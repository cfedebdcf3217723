"""Helpers shared by the workload generators: writing a framework project
to disk and writing seeded parquet inputs.

Every input is written with pyarrow, timestamps as parquet
``TIMESTAMP(MICROS)`` (see NOTES.md for the INT96 defect this avoids).
"""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import yaml


def write_parquet(path: Path, columns: dict) -> int:
    """Write one parquet file from a dict of numpy/pyarrow columns and
    return its size in bytes."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), path, coerce_timestamps="us")
    return path.stat().st_size


def write_project(
    root: Path,
    database: str,
    master: str,
    sources: dict[str, str],
    models: dict[str, str],
    schema: list[dict] | None = None,
    tests: dict[str, str] | None = None,
) -> Path:
    """Lay out a project the CLI can run: profiles.yml, sources.yml,
    ``models/<name>.sql`` (names may contain a layer directory),
    ``models/schema.yml`` and ``tests/<name>.sql``.

    ``sources`` maps a table name of the ``raw`` source to a path, which
    may be an ``${ENV_VAR}`` that the CLI substitutes per invocation."""
    root.mkdir(parents=True, exist_ok=True)
    profile = {"master": master, "database": database}
    (root / "profiles.yml").write_text(
        yaml.safe_dump(
            {"default_environment": "dev", "environments": {"dev": profile}}
        )
    )
    (root / "sources.yml").write_text(
        yaml.safe_dump(
            {
                "sources": {
                    "raw": {
                        "tables": {
                            name: {"path": path, "format": "parquet"}
                            for name, path in sources.items()
                        }
                    }
                }
            }
        )
    )
    models_dir = root / "models"
    for name, sql in models.items():
        path = models_dir / f"{name}.sql"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(sql)
    if schema:
        (models_dir / "schema.yml").write_text(
            yaml.safe_dump({"models": schema}, sort_keys=False)
        )
    tests_dir = root / "tests"
    tests_dir.mkdir(exist_ok=True)
    for name, sql in (tests or {}).items():
        (tests_dir / f"{name}.sql").write_text(sql)
    return root
