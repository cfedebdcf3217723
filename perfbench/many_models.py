"""``many_models``: a wide, deep DAG of small models over small inputs.

``LEVELS`` x ``WIDTH`` models.  Level 0 aggregates a slice of the
``orders`` source per customer; every later model reads one to three
models of the level above (a union-and-sum, a join with the
``customers`` source, or a filter).  Each model yields ``(k, v)`` rows,
one per customer, so the data work stays tiny and the per-model floors
dominate: render, source registration, catalog and metastore calls,
state saves, planning and codegen, and the level barrier.  Some tables
use a clustered layout (``cluster_by``).

Beside them runs the incremental band (perfbench/changes.py): six
models fed by a change batch staged before every invocation, one per
incremental strategy and merge backend.

The expected content of every sink model is recomputed here with pandas
from the generated inputs, following the same recipe the SQL encodes.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pandas as pd

from . import changes
from .project import write_parquet, write_project

LEVELS = 4
WIDTH = 4
ORDERS = 50_000
CUSTOMERS = 2_000
REGIONS = 10
STATUSES = ("O", "F", "P")
# the DAG's shape (ops, parents, materializations) is the same for every
# seed, so runs at different seeds do the same amount of model work; the
# seed picks the data and the SQL constants
SHAPE_SEED = 20240101


def _inputs(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    orders = pd.DataFrame(
        {
            "order_id": np.arange(ORDERS, dtype=np.int64),
            "customer_id": rng.integers(0, CUSTOMERS, ORDERS, dtype=np.int64),
            "qty": rng.integers(1, 21, ORDERS, dtype=np.int64),
            "status": rng.choice(np.array(STATUSES), ORDERS),
            "order_ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 86_400 * 365, ORDERS), unit="s"),
        }
    )
    customers = pd.DataFrame(
        {
            "customer_id": np.arange(CUSTOMERS, dtype=np.int64),
            "region_id": rng.integers(0, REGIONS, CUSTOMERS, dtype=np.int64),
        }
    )
    return {"orders": orders, "customers": customers}


def _plan(rng: np.random.Generator) -> dict[str, dict]:
    """One spec per model: level, op, parents, constants, materialization."""
    shape = np.random.default_rng(SHAPE_SEED)
    specs: dict[str, dict] = {}
    for lv in range(LEVELS):
        for j in range(WIDTH):
            name = f"m{lv}_{j}"
            kind = shape.random()
            spec = {
                "level": lv,
                "materialized": "view" if kind < 0.3 else "table",
                "clustered": kind > 0.85,
            }
            if lv == 0:
                spec.update(
                    op="slice",
                    status=str(rng.choice(np.array(STATUSES))),
                    mod=int(rng.integers(2, 5)),
                    rem=0,
                    mult=int(rng.integers(1, 4)),
                )
                spec["rem"] = int(rng.integers(0, spec["mod"]))
            else:
                op = str(shape.choice(np.array(["union", "join", "filter"])))
                n_par = int(shape.integers(2, 4)) if op == "union" else 1
                parents = shape.choice(WIDTH, size=n_par, replace=False)
                spec.update(
                    op=op,
                    parents=[f"m{lv - 1}_{int(p)}" for p in parents],
                    const=int(rng.integers(1, 100)),
                    mod=int(rng.integers(3, 7)),
                    region=int(rng.integers(0, REGIONS)),
                )
            specs[name] = spec
    return specs


def _sql(spec: dict) -> str:
    head = f"-- config: materialized={spec['materialized']}"
    head += ", cluster_by=k, cluster_files=2\n" if spec["clustered"] else "\n"
    if spec["op"] == "slice":
        return head + (
            f"SELECT customer_id AS k, CAST(SUM(qty * {spec['mult']}) AS BIGINT) AS v\n"
            "FROM {{ source('raw', 'orders') }}\n"
            f"WHERE status = '{spec['status']}' "
            f"AND order_id % {spec['mod']} = {spec['rem']}\n"
            "GROUP BY customer_id\n"
        )
    p = spec["parents"]
    if spec["op"] == "union":
        arms = "\nUNION ALL\n".join(
            f"SELECT k, v * {i + 1} AS v FROM {{{{ ref('{name}') }}}}"
            for i, name in enumerate(p)
        )
        return head + f"SELECT k, CAST(SUM(v) AS BIGINT) AS v FROM (\n{arms}\n) u\nGROUP BY k\n"
    if spec["op"] == "join":
        return head + (
            f"SELECT p.k, p.v + c.region_id AS v\n"
            f"FROM {{{{ ref('{p[0]}') }}}} p\n"
            "JOIN {{ source('raw', 'customers') }} c ON p.k = c.customer_id\n"
            f"WHERE c.region_id <> {spec['region']}\n"
        )
    return head + (
        f"SELECT k, v - {spec['const']} AS v FROM {{{{ ref('{p[0]}') }}}}\n"
        f"WHERE k % {spec['mod']} <> 0\n"
    )


def _expected(spec: dict, frames: dict, inputs: dict) -> pd.DataFrame:
    if spec["op"] == "slice":
        o = inputs["orders"]
        o = o[(o.status == spec["status"]) & (o.order_id % spec["mod"] == spec["rem"])]
        out = (o.qty * spec["mult"]).groupby(o.customer_id).sum()
        return pd.DataFrame({"k": out.index.astype(np.int64), "v": out.values})
    p = [frames[n] for n in spec["parents"]]
    if spec["op"] == "union":
        u = pd.concat([f.assign(v=f.v * (i + 1)) for i, f in enumerate(p)])
        out = u.groupby("k").v.sum()
        return pd.DataFrame({"k": out.index.astype(np.int64), "v": out.values})
    if spec["op"] == "join":
        c = inputs["customers"]
        j = p[0].merge(c, left_on="k", right_on="customer_id")
        j = j[j.region_id != spec["region"]]
        return pd.DataFrame({"k": j.k.values, "v": (j.v + j.region_id).values})
    f = p[0][p[0].k % spec["mod"] != 0]
    return pd.DataFrame({"k": f.k.values, "v": (f.v - spec["const"]).values})


class Workload:
    def __init__(self, rng: np.random.Generator, root: Path, master: str):
        self.database = "bench_many"
        self.inputs = _inputs(rng)
        self.specs = _plan(rng)
        self.feed = changes.ChangeFeed(
            np.random.default_rng(rng.integers(2**63)), CUSTOMERS
        )
        self.data = root / "data"
        self.input_bytes = sum(
            write_parquet(self.data / f"{t}.parquet", {c: df[c].values for c in df})
            for t, df in self.inputs.items()
        )
        models = {n: _sql(s) for n, s in self.specs.items()} | changes.MODELS
        # schema.yml tests on every fourth model; custom SQL tests on sinks
        schema = [
            {
                "name": n,
                "columns": [
                    {"name": "k", "tests": ["unique", "not_null"]},
                    {"name": "v", "tests": ["not_null"]},
                ],
            }
            for i, n in enumerate(self.specs)
            if i % 4 == 0
        ] + changes.SCHEMA
        self.sinks = self._sinks()
        tests = {
            f"no_null_{n}": f"SELECT COUNT(*) AS failed_rows FROM {self.database}.{n} WHERE v IS NULL"
            for n in self.sinks[:2]
        }
        self.project = write_project(
            root / "project",
            self.database,
            master,
            {t: str(self.data / f"{t}.parquet") for t in self.inputs}
            | {"changes": f"${{{changes.ENV}}}"},
            models,
            schema,
            tests,
        )
        self.row_count = sum(len(df) for df in self.inputs.values())
        self.row_count += changes.SNAPSHOT_KEYS

    def _sinks(self) -> list[str]:
        used = {p for s in self.specs.values() for p in s.get("parents", [])}
        return [n for n in self.specs if n not in used]

    def stage(self, invocation: int) -> int:
        """Stage the next change batch; return the bytes this invocation
        reads as input (the unchanged sources are read whole again)."""
        path = self.data / f"changes_{invocation}.parquet"
        batch = self.feed.next_batch()
        size = write_parquet(path, {c: batch[c].values for c in batch})
        os.environ[changes.ENV] = str(path)
        return self.input_bytes + size

    def check(self, spark) -> list[tuple[str, bool]]:
        frames: dict[str, pd.DataFrame] = {}
        for name, spec in self.specs.items():
            frames[name] = _expected(spec, frames, self.inputs)
        results = []
        for name in self.sinks:
            got = spark.table(f"{self.database}.{name}").toPandas()
            results.append((name, _same(got, frames[name])))
        return results + changes.check(spark, self.database, self.feed.batches)


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    a = got[["k", "v"]].astype(np.int64).sort_values("k").reset_index(drop=True)
    b = want[["k", "v"]].astype(np.int64).sort_values("k").reset_index(drop=True)
    return a.equals(b)
