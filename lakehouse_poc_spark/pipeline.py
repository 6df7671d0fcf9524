"""Pipeline runner: raw landing → dedup-latest transform → SCD2 merge.

Orchestration re-expressed from the reference (O1 single-table job
``run_kosten_pipeline`` — reference notebooks/pipeline_core.py:266-296;
O2 multi-table fan-out loop + O3 conditional merge — "Mini-ETL-Pipeline
in Databricks.py":113-131), with the reference's self-inflicted
pessimizations fixed by construction (SURVEY.md §4): the SCD2 merge is
one observed join whose write also yields its stats, and ingest is
fully distributed (no driver-side bytes).

Two concurrent branches: ``run_pipeline`` stamps the batch once and,
from that one stamped plan, lands it in the raw table and merges it
into the dimension at the same time (``session.overlap``). The merge
reads the batch plan, not the landed rows, so no branch waits on the
other and the raw table is never scanned back. The contract:

- the batch plan is evaluated once per branch, so a caller's batch
  must be deterministic — the assumption Spark's own task retries
  already make;
- either branch may commit before the other fails;
- rerunning the same ``run_ts`` converges: raw gets the batch, and the
  merge of a batch the dimension already holds changes nothing.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from .config import PipelineConfig
from .operators.dedup_latest import dedup_latest
from .operators.ingest import INGEST_TS, with_ingest_metadata, trim_columns
from .operators.scd2 import MergeStats, scd2_merge
from .session import overlap
from .sinks.warehouse import Warehouse
from .sources.readers import read_csv


def load_raw(wh: Warehouse, cfg: PipelineConfig, stamped: DataFrame) -> None:
    """Land a stamped batch in the append-only raw table (reference
    S1+K1: append, "RAW ist historisch" — pipeline_core.py:62-68)."""
    wh.append(stamped, cfg.raw_table)


def transform_dim(df_raw: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Raw batch → one clean row per business key (reference
    transform_dim, pipeline_core.py:77-108): project wanted columns,
    trim strings, keep the latest row per key. ``row_number() == 1``
    already leaves one row per key, so no ``distinct`` follows (it
    would only add a shuffle on every column).

    Tie semantics: rows landed in the SAME run share an ingest
    timestamp, so a key appearing twice in one batch keeps one of its
    rows, and with different content there is no defined winner (the
    reference has the same hazard — its row_number orders only by
    IngestTimestamp). Feed each run only that run's new files
    (pipeline O3 conditional load) so "latest" is well-defined."""
    projected = trim_columns(
        df_raw.select(*cfg.wanted_columns, INGEST_TS), cols=None
    )
    latest = dedup_latest(
        projected, keys=list(cfg.business_key), order_by=[INGEST_TS]
    )
    return latest.select(*cfg.wanted_columns)


def run_pipeline(
    spark: SparkSession,
    wh: Warehouse,
    cfg: PipelineConfig,
    run_ts: datetime | str,
    batch: DataFrame | None = None,
) -> MergeStats:
    """O1: one table end-to-end; returns the reference's stats dict
    shape (pipeline_core.py:255-259) as MergeStats. The merge runs in
    the calling thread (its Observation lives in the batch's session),
    the raw append beside it; see the module docstring for the
    contract."""
    if batch is None:
        if cfg.source_path is None:
            raise ValueError(f"{cfg.name}: no source_path and no batch")
        batch = read_csv(spark, cfg.source_path, dialect=cfg.dialect)
    stamped = with_ingest_metadata(batch, cfg.ingest_source, run_ts)
    stats, _ = overlap(
        lambda: scd2_merge(wh, cfg, transform_dim(stamped, cfg), run_ts),
        lambda: load_raw(wh, cfg, stamped),
    )
    return stats


def run_many(
    spark: SparkSession,
    wh: Warehouse,
    configs: list[PipelineConfig],
    run_ts: datetime | str,
    batches: dict[str, DataFrame] | None = None,
) -> dict[str, MergeStats]:
    """O2/O3: config-driven fan-out; a table with no batch this run is
    skipped (the reference's 'no files matched' early-return)."""
    out: dict[str, MergeStats] = {}
    for cfg in configs:
        batch = (batches or {}).get(cfg.name)
        if batch is None and cfg.source_path is None:
            continue
        out[cfg.name] = run_pipeline(spark, wh, cfg, run_ts, batch=batch)
    return out
