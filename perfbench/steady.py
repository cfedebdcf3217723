#!/usr/bin/env python3
"""Steadiness report: repeat the benchmark over seeds and summarise the
spread of every metric per workload.

    python3 perfbench/steady.py --runs 10 [--workload many_models]
    python3 perfbench/steady.py --selfcheck

For each workload, runs ``perfbench/run.py`` once per seed (``runs``
seeds from ``--first-seed``, one process at a time) and prints, per metric, the median, the first and
third quartile (``statistics.quantiles(n=4)``) and the spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json.
The full report goes to ``--out`` as JSON.  With ``--selfcheck`` it
instead runs two traced runs at one seed and checks that the exact
counters named in ``EXACT`` agree.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
EXACT = (
    "spark.jobs",
    "spark.tasks",
    "executor.sql_statements",
    "materialization.save_as_table_calls",
    "state.save_calls",
    "spark.output_bytes",
)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable,
        str(ROOT / "perfbench" / "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{proc.stderr[-3000:]}")
    return {"detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / q2 if q2 else None,
        "values": values,
    }


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    p.add_argument("--selfcheck", action="store_true")
    p.add_argument("--out", type=Path)
    args = p.parse_args(argv)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]

    if args.selfcheck:
        ok = True
        for w in workloads:
            a, b = (run_once(w, args.first_seed, seconds, 1) for _ in range(2))
            for name in EXACT:
                x = a["result"]["metrics"][name]["value"]
                y = b["result"]["metrics"][name]["value"]
                ok &= x == y
                print(f"{w:18s} {name:40s} {x:>14} {y:>14} {'ok' if x == y else 'DIFFER'}")
        return 0 if ok else 1

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for w in workloads:
        runs = [
            run_once(w, seed, seconds, 0)
            for seed in range(args.first_seed, args.first_seed + args.runs)
        ]
        names = runs[0]["result"]["metrics"]
        report[w] = {
            "correct": all(r["result"]["correct"] for r in runs),
            "metrics": {
                n: spread([r["result"]["metrics"][n]["value"] for r in runs]) for n in names
            },
            "warm_samples": [r["detail"].get("warm_s") for r in runs],
            "failures": {
                r["detail"]["seed"]: {
                    k: r["detail"][k]
                    for k in ("failed_models", "failed_tests", "failed_checks")
                    if k in r["detail"]
                }
                for r in runs
                if not r["result"]["correct"]
            },
        }
        print(f"{w}: correct={report[w]['correct']}")
        for seed, why in report[w]["failures"].items():
            print(f"  seed {seed} failed: {json.dumps(why)[:2000]}")
        for n, s in report[w]["metrics"].items():
            bound = bounds.get(n)
            print(
                f"  {n:34s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}"
                f"  q3 {s['q3']:12.4f}  spread {s['iqr_over_median']:.4f}"
                + (f"  bound {bound}" if bound is not None else "")
            )
    if args.out:
        args.out.write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
