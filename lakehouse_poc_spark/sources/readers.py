"""Sources: distributed readers (realizes the reference's empty
``src/utils/blob_io.py`` stub, and replaces its driver-side ingest).

The reference ingests two ways:
- S1: ``spark.read.option("header", True).option("inferSchema", True)
  .csv(glob)`` (reference notebooks/pipeline_core.py:43-57) — kept, as
  ``read_csv``.
- S2/S3: driver-side HTTP blob listing + ``pd.read_csv`` +
  ``spark.createDataFrame`` (reference "Mini-ETL-Pipeline in
  Databricks.py":25-44,74-111) — an anti-pattern at scale (all bytes
  flow through the driver). Replaced by distributed reads with the
  same CSV *dialect* config surface (sep=';', cp1252, no quoting —
  Mini-ETL:6-14); cloud paths are just globs (``abfss://...``), and
  per-file lineage comes from the ``_metadata`` hidden column instead
  of a driver-side listing.

Scale notes: Spark splits CSV/parquet reads across executors by
``spark.sql.files.maxPartitionBytes`` (128 MB default) — a 100 TB scan
is ~800k input splits, scheduled across the cluster with no driver
data movement. ``inferSchema`` double-scans CSV; callers on big data
should pass an explicit ``schema``.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class CsvDialect:
    """Per-source CSV dialect, mirroring the reference's config surface
    (reference "Mini-ETL-Pipeline in Databricks.py":6-14: sep=';',
    encoding cp1252, no quoting, CRLF, header)."""

    sep: str = ";"
    encoding: str = "cp1252"
    header: bool = True
    quote: str = '"'
    line_sep: str | None = None
    extra: dict[str, str] = field(default_factory=dict)

    def options(self) -> dict[str, str]:
        opts = {
            "sep": self.sep,
            "encoding": self.encoding,
            "header": str(self.header).lower(),
            "quote": self.quote,
            **self.extra,
        }
        if self.line_sep:
            opts["lineSep"] = self.line_sep
        return opts


def read_csv(
    spark: SparkSession,
    path: str,
    dialect: CsvDialect | None = None,
    schema=None,
    infer_schema: bool = True,
    with_file_metadata: bool = False,
) -> DataFrame:
    """Distributed CSV scan with dialect options (reference S1+S3).

    ``with_file_metadata=True`` adds ``source_file`` and
    ``source_mtime`` from the hidden ``_metadata`` column — the
    distributed replacement for the reference's driver-side blob
    listing (its ``last_modified``, Mini-ETL:25-44).
    """
    dialect = dialect or CsvDialect()
    ensure_session_confs(spark)
    reader = spark.read.options(**dialect.options())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if with_file_metadata:
        from pyspark.sql import functions as F

        df = df.withColumns(
            {
                "source_file": F.col("_metadata.file_path"),
                "source_mtime": F.col("_metadata.file_modification_time"),
            }
        )
    return df


#: Runtime-settable SQL confs every query in this engine relies on.
#: ``get_spark`` sets them at build time, but the driver contract says
#: ``queries()`` must work with *any* provided SparkSession — so readers
#: re-assert them defensively (all verified settable on a live session).
_REQUIRED_RUNTIME_CONFS = {
    # events.ts fixture is parquet TIMESTAMP(NANOS); Spark 4 rejects it
    # natively ([PARQUET_TYPE_ILLEGAL]) unless read as long nanos.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Reproducible, engine-comparable timestamps (DuckDB oracle is UTC).
    "spark.sql.session.timeZone": "UTC",
    # Reference CSV sources are cp1252; Spark 4 whitelists charsets.
    "spark.sql.legacy.javaCharsets": "true",
    # Arrow transfer for the Pandas-UDF operators (similarity, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python data sources that implement pushFilters refuse to plan
    # without it; register_tsvcorpus sets it for the whole session.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime confs this engine's plans assume (idempotent).

    Called from every reader so the ``queries()``/``oracle_sql()`` driver
    contract holds for sessions we didn't build (ADVICE r1, high).
    """
    for key, want in _REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != want:
                spark.conf.set(key, want)
        except Exception as exc:  # pragma: no cover - non-settable on some builds
            # A silently un-pinned conf (nanosAsLong, session timezone)
            # surfaces later as an unrelated read error or a quiet
            # divergence from the UTC-pinned oracle — name the culprit.
            warnings.warn(
                f"could not pin required Spark conf {key!r}={want!r}: {exc}; "
                "reads and oracle comparisons may diverge",
                RuntimeWarning,
                stacklevel=2,
            )


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType regardless of how the
    fixture encodes it — the generator has shipped both parquet
    TIMESTAMP(NANOS) (rounds 1–3; arrives as long nanos under
    ``nanosAsLong``) and TIMESTAMP(MICROS) without timezone (round 4+;
    arrives as TIMESTAMP_NTZ). Both normalize to the same UTC
    wall-clock instants (session timezone is pinned to UTC), so every
    downstream plan and oracle sees identical values either way.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # long nanos → micros via integer division (`div` keeps LongType;
        # a double division would lose precision above 2^53). Matches
        # DuckDB's ns→us truncation, so oracle comparisons stay exact.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # wall-clock-preserving under the UTC session timezone
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver-generated star schema (TESTDATA.md) as DataFrames."""
    return {t: read_parquet_table(spark, sf_dir, t) for t in STAR_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each star-schema table as a temp view (for the SQL surface)."""
    dfs = load_star_schema(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
