"""Run metrics: per-model timing/success aggregation (reference:
src/framework/utils/logger.py:148-203 — G14), plus a pointer to the
Spark UI for per-job detail on a real cluster."""

from __future__ import annotations

import datetime as _dt
import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class RunMetrics:
    started_at: str = ""
    finished_at: str = ""
    results: list = field(default_factory=list)

    def start(self) -> "RunMetrics":
        self.started_at = _dt.datetime.now(_dt.timezone.utc).isoformat()
        return self

    def record(self, result: dict) -> None:
        self.results.append(result)

    def finish(self) -> dict:
        self.finished_at = _dt.datetime.now(_dt.timezone.utc).isoformat()
        return self.summary()

    def summary(self) -> dict:
        ok = [r for r in self.results if r.get("success")]
        skipped = [r for r in self.results if r.get("skipped")]
        failed = [
            r for r in self.results if not r.get("success") and not r.get("skipped")
        ]
        return {
            "started_at": self.started_at,
            "finished_at": self.finished_at,
            "models_run": len(self.results) - len(skipped),
            "succeeded": len(ok),
            "failed": len(failed),
            "failed_models": [r.get("model") for r in failed],
            "skipped": len(skipped),
            "skipped_models": [r.get("model") for r in skipped],
            "total_duration_sec": round(
                sum(r.get("duration_sec", 0) or 0 for r in self.results), 4
            ),
            "per_model": {
                r.get("model"): {
                    "success": r.get("success"),
                    "duration_sec": r.get("duration_sec"),
                    "strategy": r.get("strategy"),
                }
                for r in self.results
            },
        }

    def write(self, path: str | Path) -> None:
        Path(path).write_text(json.dumps(self.summary(), indent=2, default=str))
