"""Model dependency DAG: construction, cycle detection, topological
levels, transitive closure, impact analysis, level-parallel execution.

Pure-Python port of the reference graph layer (reference:
src/framework/dependency.py:17-491) — engine-agnostic by design.  One
improvement: the level-parallel executor is actually wired (the
reference ships an async executor that the CLI never uses —
dependency.py:395-467 vs cli.py:159-169); ours runs each level's
models concurrently on a thread pool over the shared SparkSession
(Spark schedules concurrent jobs fairly across threads).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field


from .errors import CircularDependencyError as _BaseCircularDependencyError
from .errors import DependencyError


class CircularDependencyError(_BaseCircularDependencyError):
    def __init__(self, cycle: list[str]):
        self.cycle = cycle
        super().__init__(f"Circular dependency detected: {' -> '.join(cycle)}")


@dataclass
class DependencyNode:
    """(reference: dependency.py:17-33)"""

    name: str
    dependencies: set = field(default_factory=set)
    dependents: set = field(default_factory=set)
    level: int = 0


class DependencyGraph:
    def __init__(self):
        self.nodes: dict[str, DependencyNode] = {}

    # -- construction (reference: dependency.py:36-94) -----------------
    def add_model(self, name: str, dependencies: set | None = None) -> None:
        node = self.nodes.setdefault(name, DependencyNode(name))
        for dep in dependencies or set():
            node.dependencies.add(dep)
            dep_node = self.nodes.setdefault(dep, DependencyNode(dep))
            dep_node.dependents.add(name)

    def remove_model(self, name: str) -> None:
        node = self.nodes.pop(name, None)
        if not node:
            return
        for dep in node.dependencies:
            if dep in self.nodes:
                self.nodes[dep].dependents.discard(name)
        for d in node.dependents:
            if d in self.nodes:
                self.nodes[d].dependencies.discard(name)

    # -- closures (reference: dependency.py:124-180) -------------------
    def get_dependencies(self, name: str, recursive: bool = False) -> set:
        if name not in self.nodes:
            return set()
        if not recursive:
            return set(self.nodes[name].dependencies)
        seen: set[str] = set()
        stack = list(self.nodes[name].dependencies)
        while stack:
            d = stack.pop()
            if d in seen:
                continue
            seen.add(d)
            if d in self.nodes:
                stack.extend(self.nodes[d].dependencies)
        return seen

    def get_dependents(self, name: str, recursive: bool = False) -> set:
        if name not in self.nodes:
            return set()
        if not recursive:
            return set(self.nodes[name].dependents)
        seen: set[str] = set()
        stack = list(self.nodes[name].dependents)
        while stack:
            d = stack.pop()
            if d in seen:
                continue
            seen.add(d)
            if d in self.nodes:
                stack.extend(self.nodes[d].dependents)
        return seen

    # -- cycle detection (reference: dependency.py:182-217) ------------
    def detect_cycles(self) -> list[str] | None:
        WHITE, GRAY, BLACK = 0, 1, 2
        color = {n: WHITE for n in self.nodes}
        path: list[str] = []

        def dfs(n: str) -> list[str] | None:
            color[n] = GRAY
            path.append(n)
            for d in self.nodes[n].dependencies:
                if d not in self.nodes:
                    continue
                if color[d] == GRAY:
                    i = path.index(d)
                    return path[i:] + [d]
                if color[d] == WHITE:
                    cycle = dfs(d)
                    if cycle:
                        return cycle
            color[n] = BLACK
            path.pop()
            return None

        for n in sorted(self.nodes):
            if color[n] == WHITE:
                cycle = dfs(n)
                if cycle:
                    return cycle
        return None

    # -- topological sort (reference: dependency.py:219-277) -----------
    def topological_sort(self) -> list[list[str]]:
        """Kahn's BFS producing *levels*: models in one level have no
        mutual dependencies and can run concurrently."""
        cycle = self.detect_cycles()
        if cycle:
            raise CircularDependencyError(cycle)
        indeg = {
            n: len([d for d in node.dependencies if d in self.nodes])
            for n, node in self.nodes.items()
        }
        levels: list[list[str]] = []
        frontier = sorted(n for n, d in indeg.items() if d == 0)
        seen = 0
        while frontier:
            levels.append(frontier)
            for n in frontier:
                self.nodes[n].level = len(levels) - 1
            seen += len(frontier)
            nxt: set[str] = set()
            for n in frontier:
                for dep in self.nodes[n].dependents:
                    if dep in indeg:
                        indeg[dep] -= 1
                        if indeg[dep] == 0:
                            nxt.add(dep)
            frontier = sorted(nxt)
        if seen != len(self.nodes):
            raise CircularDependencyError(["<unresolved>"])
        return levels

    def get_execution_order(self, targets: list[str] | None = None) -> list[list[str]]:
        """Execution levels restricted to a selection (reference:
        dependency.py:279-308, extended with dbt-style graph
        selectors):

        - ``model``  → the model plus its transitive upstream
          dependencies (everything needed to build it)
        - ``model+`` → the model plus its transitive *downstream*
          dependents (rebuild-the-consumers shape); downstream
          models' other parents are NOT pulled in (dbt semantics —
          they are assumed already built)
        - ``+model+`` → both closures
        """
        levels = self.topological_sort()
        if targets is None:
            return levels
        wanted: set[str] = set()
        for t in targets:
            down = t.endswith("+")
            name = t.strip("+")
            if name not in self.nodes:
                raise DependencyError(f"unknown model in --select: {name!r}")
            wanted.add(name)
            if not down or t.startswith("+"):
                wanted |= self.get_dependencies(name, recursive=True)
            if down:
                wanted |= self.get_dependents(name, recursive=True)
        return [lv for lv in ([n for n in level if n in wanted] for level in levels) if lv]

    # -- impact analysis (reference: dependency.py:310-330) ------------
    def impact_analysis(self, changed: list[str]) -> set:
        impacted: set[str] = set()
        for c in changed:
            impacted.add(c)
            impacted |= self.get_dependents(c, recursive=True)
        return impacted

    # -- export (reference: dependency.py:345-365) ---------------------
    def to_dot(self) -> str:
        lines = ["digraph models {", "  rankdir=LR;"]
        for n in sorted(self.nodes):
            lines.append(f'  "{n}";')
        for n, node in sorted(self.nodes.items()):
            for d in sorted(node.dependencies):
                lines.append(f'  "{d}" -> "{n}";')
        lines.append("}")
        return "\n".join(lines)


def build_dependency_graph(parsed_models: dict) -> DependencyGraph:
    """Graph from parse results; edges only to models that exist
    (reference: dependency.py:470-491)."""
    g = DependencyGraph()
    names = set(parsed_models)
    for name, parsed in parsed_models.items():
        deps = {d for d in parsed.dependencies if d in names}
        g.add_model(name, deps)
    return g


class ParallelExecutor:
    """Run each topological level's models concurrently on threads
    sharing one SparkSession (reference's unwired async variant:
    dependency.py:395-467).  ``max_parallelism`` bounds concurrent
    Spark jobs per level.

    When a ``spark`` session is supplied, each model's jobs run in a
    FAIR scheduler pool named after the model so one long-running
    model in a level cannot starve the others (G7 + SURVEY §3.2; the
    cluster should set ``spark.scheduler.mode=FAIR``)."""

    def __init__(self, max_parallelism: int = 4, spark=None):
        self.max_parallelism = max_parallelism
        self.spark = spark

    def _run_in_pool(self, name: str, run_fn):
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"model_{name}"
            )
        try:
            return run_fn(name)
        finally:
            if self.spark is not None:
                self.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", None
                )

    def execute_levels(
        self,
        levels: list[list[str]],
        run_fn,
        graph: DependencyGraph,
    ) -> list[dict]:
        """Run ``levels`` in order, each level's models concurrently.

        A model whose upstream in ``graph`` failed is not run: it and
        every transitive dependent get ``{"success": False,
        "skipped": True, "error": "upstream <m> failed"}`` (``m`` the
        model that failed), so nothing builds on a table its upstream
        did not refresh."""
        results: list[dict] = []
        # failed or skipped model -> the model whose failure stopped it
        cause: dict[str, str] = {}
        for level in levels:
            runnable = []
            for name in level:
                bad = sorted(graph.nodes[name].dependencies & cause.keys())
                if bad:
                    cause[name] = cause[bad[0]]
                    results.append(
                        {
                            "model": name,
                            "success": False,
                            "skipped": True,
                            "error": f"upstream {cause[name]} failed",
                        }
                    )
                else:
                    runnable.append(name)
            with ThreadPoolExecutor(max_workers=self.max_parallelism) as pool:
                futures = {
                    pool.submit(self._run_in_pool, name, run_fn): name
                    for name in runnable
                }
                for fut in as_completed(futures):
                    name = futures[fut]
                    try:
                        result = fut.result()
                    except Exception as e:  # graceful degradation G17
                        result = {"model": name, "success": False, "error": str(e)}
                    if not result.get("success"):
                        cause[name] = name
                    results.append(result)
        return results
