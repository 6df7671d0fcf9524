"""Command-line entry point: run config-driven pipelines without a
notebook — the standalone-repo equivalent of the reference's Databricks
job surface (a reference user schedules `python -m lakehouse_poc_spark`
where they previously scheduled a notebook task).

Config file: JSON or YAML (by extension: ``.yaml``/``.yml`` parse via
PyYAML when available, JSON otherwise) — either one pipeline object or
``{"defaults": {...}, "tables": [{...}, ...]}`` (the Mini-ETL
defaults-merge shape, config.py::merge_defaults). YAML honors the
reference's declared config-from-YAML intent
(notebooks/pipeline_core.py:8-9 — "# Konfiguration (aus YAML…)").

Each table is written as a Delta table (parquet files plus a
``_delta_log/`` of JSON commits) under the warehouse root, readable by
any Delta runtime; the tables' pipelines run concurrently.

Example:
    python -m lakehouse_poc_spark \\
        --config pipelines.yaml --warehouse /data/wh \\
        --run-ts 2026-01-01T00:00:00
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime, timezone

from .config import config_from_dict, merge_defaults
from .pipeline import run_many
from .session import get_spark
from .sinks.warehouse import Warehouse


def load_config_file(path: str) -> dict:
    """Parse a pipeline config file: YAML for .yaml/.yml (PyYAML
    ``safe_load`` — config is data, never executable tags), JSON
    otherwise. A .yaml file on a PyYAML-less install gets an
    actionable error instead of a JSON parse stack."""
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml
        except ImportError as exc:  # pragma: no cover - env has PyYAML
            raise SystemExit(
                f"{path}: YAML config requires PyYAML (pip install pyyaml) "
                "or convert the file to JSON"
            ) from exc
        with open(path) as f:
            raw = yaml.safe_load(f)
    else:
        with open(path) as f:
            raw = json.load(f)
    if not isinstance(raw, dict):
        raise SystemExit(f"{path}: top-level config must be a mapping")
    return raw


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="lakehouse_poc_spark")
    p.add_argument(
        "--config", required=True, help="pipeline config JSON or YAML"
    )
    p.add_argument(
        "--warehouse", required=True, help="warehouse root dir (Delta tables)"
    )
    p.add_argument(
        "--run-ts",
        default=None,
        help="deterministic run timestamp (ISO-8601); defaults to now UTC",
    )
    p.add_argument("--cpus", default=None, help="local parallelism override")
    args = p.parse_args(argv)

    raw = load_config_file(args.config)
    if "tables" in raw:
        entries = merge_defaults(raw.get("defaults", {}), raw["tables"])
    else:
        entries = [raw]
    configs = [config_from_dict(e) for e in entries]

    run_ts = args.run_ts or datetime.now(timezone.utc).replace(
        tzinfo=None
    ).isoformat(sep=" ", timespec="seconds")

    spark = get_spark("lakehouse_poc_spark_cli", cpus=args.cpus)
    wh = Warehouse(spark, args.warehouse)
    stats = run_many(spark, wh, configs, run_ts)
    print(
        json.dumps(
            {
                name: {
                    "unchanged": s.unchanged,
                    "new_keys": s.new_keys,
                    "updated_keys": s.updated_keys,
                }
                for name, s in stats.items()
            },
            sort_keys=True,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
