"""The incremental band of ``many_models``: a seeded change feed, the six
incremental models that consume it, and a pandas replay of each.

Invocation 0 stages a full snapshot of the order keys as inserts; every
later invocation stages a new batch touching about 1% of the keys:
updates and deletes of live keys, inserts of new keys, and duplicate
updates whose timestamps run backwards within the batch (the latest
timestamp must win).  Batch ``k``'s timestamps all fall on day ``k``, so
the time-incremental model appends every batch whole.

The batch reaches the models through the ``changes`` source, whose path
is an environment variable the CLI substitutes on every invocation, the
staged-ingest pattern the executor re-registers sources for.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SNAPSHOT_KEYS = 20_000
BATCH_KEYS = SNAPSHOT_KEYS // 100
STATUSES = np.array(["O", "F", "P"])
DAY0 = pd.Timestamp("2024-01-01")
ENV = "PERFBENCH_CHANGES"
BUSINESS = ["order_id", "customer_id", "qty", "status"]

_FEED = (
    "SELECT order_id, customer_id, qty, status, op AS __CDC_OPERATION,\n"
    "       updated_at AS __CDC_TIMESTAMP\n"
    "FROM {{ ref('stg_changes') }}\n"
)
_LATEST = (
    "SELECT order_id, customer_id, qty, status, updated_at FROM (\n"
    "  SELECT *, ROW_NUMBER() OVER (PARTITION BY order_id ORDER BY updated_at DESC) AS rn\n"
    "  FROM {{ ref('stg_changes') }} WHERE op <> 'D') t\n"
    "WHERE rn = 1\n"
)

# one staging view registers the re-pointed source once per invocation,
# before the six consumers run in parallel
MODELS = {
    "stg_changes": "-- config: materialized=view\n"
    "SELECT * FROM {{ source('raw', 'changes') }}\n",
    "inc_upsert": "-- config: materialized=incremental, incremental_strategy=unique_key,"
    " unique_key=order_id, merge_backend=rewrite\n" + _LATEST,
    "inc_upsert_bucketed": "-- config: materialized=incremental,"
    " incremental_strategy=unique_key, unique_key=order_id, merge_buckets=8\n"
    + _LATEST,
    "inc_cdc": "-- config: materialized=cdc, unique_key=order_id\n" + _FEED,
    "inc_retire": "-- config: materialized=cdc_retirement, unique_key=order_id\n"
    + _FEED,
    "inc_log": "-- config: materialized=incremental, incremental_strategy=time,"
    " time_column=updated_at\n"
    "SELECT order_id, op, qty, updated_at FROM {{ ref('stg_changes') }}\n",
    "inc_customer_agg": "-- config: materialized=incremental,"
    " incremental_strategy=aggregate, group_by=customer_id,"
    " agg_columns=n_changes:sum|qty_sum:sum|last_ts:max\n"
    "SELECT customer_id, CAST(COUNT(*) AS BIGINT) AS n_changes,\n"
    "       CAST(SUM(qty) AS BIGINT) AS qty_sum, MAX(updated_at) AS last_ts\n"
    "FROM {{ ref('stg_changes') }}\n"
    "GROUP BY customer_id\n",
}

SCHEMA = [
    {
        "name": "inc_upsert",
        "columns": [
            {"name": "order_id", "tests": ["unique", "not_null"]},
            {"name": "status", "tests": [{"accepted_values": {"values": [str(s) for s in STATUSES]}}]},
            {"name": "qty", "tests": [{"range": {"min": 1, "max": 20}}]},
        ],
    },
    {"name": "inc_cdc", "columns": [{"name": "order_id", "tests": ["unique"]}]},
    {"name": "inc_customer_agg", "columns": [{"name": "customer_id", "tests": ["unique"]}]},
]


class ChangeFeed:
    """Generates batch ``k`` on demand (in order) and keeps every batch
    for the replay."""

    def __init__(self, rng: np.random.Generator, customers: int):
        self.rng = rng
        self.customers = customers
        self.live = np.arange(SNAPSHOT_KEYS, dtype=np.int64)
        self.next_key = SNAPSHOT_KEYS
        self.batches: list[pd.DataFrame] = []

    def _rows(self, keys, op, ts) -> pd.DataFrame:
        n = len(keys)
        return pd.DataFrame(
            {
                "order_id": keys.astype(np.int64),
                "customer_id": self.rng.integers(0, self.customers, n, dtype=np.int64),
                "qty": self.rng.integers(1, 21, n, dtype=np.int64),
                "status": self.rng.choice(STATUSES, n),
                "op": np.full(n, op),
                "updated_at": ts,
            }
        )

    def next_batch(self) -> pd.DataFrame:
        k = len(self.batches)
        rng = self.rng
        if k == 0:
            n = len(self.live)
            offs = rng.choice(86_400, n, replace=False)
            batch = self._rows(self.live, "I", DAY0 + pd.to_timedelta(offs, unit="s"))
        else:
            n_upd, n_del, n_ins = BATCH_KEYS // 2, BATCH_KEYS // 5, BATCH_KEYS // 4
            n_dup = BATCH_KEYS // 10
            picked = rng.choice(self.live, n_upd + n_del, replace=False)
            upd, dele = picked[:n_upd], picked[n_upd:]
            ins = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
            dup = rng.choice(upd, n_dup, replace=False)
            # distinct timestamps on day k; the duplicate updates of a key
            # get an earlier one than its first row, written after it
            offs = np.sort(rng.choice(86_400, n_upd + n_del + n_ins + n_dup, replace=False))
            day = DAY0 + pd.Timedelta(days=k)
            late = pd.to_timedelta(offs[n_dup:], unit="s") + day
            early = pd.to_timedelta(offs[:n_dup], unit="s") + day
            parts = [
                self._rows(upd, "U", late[:n_upd]),
                self._rows(dele, "D", late[n_upd : n_upd + n_del]),
                self._rows(ins, "I", late[n_upd + n_del :]),
                self._rows(dup, "U", early),
            ]
            batch = pd.concat(parts, ignore_index=True)
            self.live = np.concatenate([np.setdiff1d(self.live, dele), ins])
            self.next_key += n_ins
        self.batches.append(batch)
        return batch


def _latest(b: pd.DataFrame) -> pd.DataFrame:
    return b.sort_values("updated_at").drop_duplicates("order_id", keep="last")


def _apply(state: pd.DataFrame | None, b: pd.DataFrame, deletes: bool) -> pd.DataFrame:
    rows = _latest(b if deletes else b[b.op != "D"])
    if state is None:
        return rows
    keep = state[~state.order_id.isin(rows.order_id)]
    if deletes:
        rows = rows[rows.op != "D"]
    return pd.concat([keep, rows], ignore_index=True)


def expected(batches: list[pd.DataFrame]) -> dict[str, pd.DataFrame]:
    """The content each incremental model must hold after every batch."""
    upsert = cdc = None
    retired = 0
    for b in batches:
        upsert = _apply(upsert, b, deletes=False)
        if cdc is not None:
            retired += int(cdc.order_id.isin(b.order_id).sum())
        cdc = _apply(cdc, b, deletes=True)
    allrows = pd.concat(batches, ignore_index=True)
    agg = allrows.groupby("customer_id").agg(
        n_changes=("order_id", "size"), qty_sum=("qty", "sum"), last_ts=("updated_at", "max")
    )
    return {
        "inc_upsert": upsert[BUSINESS + ["updated_at"]],
        "inc_upsert_bucketed": upsert[BUSINESS + ["updated_at"]],
        "inc_cdc": cdc[BUSINESS],
        "inc_retire": cdc[BUSINESS],
        "inc_retire.retired": pd.DataFrame({"n": [retired]}),
        "inc_log": allrows[["order_id", "op", "qty", "updated_at"]],
        "inc_customer_agg": agg.reset_index(),
    }


def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(np.int64)
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        else:
            out[c] = out[c].astype(np.int64)
    return out.sort_values(cols).reset_index(drop=True)


def check(spark, database: str, batches: list[pd.DataFrame]) -> list[tuple[str, bool]]:
    want = expected(batches)
    results = []
    for name in MODELS:
        if name not in want:
            continue
        table = spark.table(f"{database}.{name}")
        if name == "inc_retire":
            active = table.filter("obsolete_date IS NULL").toPandas()
            retired = table.filter("obsolete_date IS NOT NULL").count()
            ok = _norm(active, BUSINESS).equals(_norm(want[name], BUSINESS))
            results.append((name, ok and retired == want["inc_retire.retired"].n[0]))
            continue
        cols = list(want[name].columns)
        got = table.toPandas()
        results.append((name, _norm(got, cols).equals(_norm(want[name], cols))))
    return results
