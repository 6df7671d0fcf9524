"""File-level statistics + manifest pruning: the Iceberg/Delta
file-skipping mechanic, built from public Spark primitives.

Partition pruning skips directories; THIS skips files *within* the
surviving directories using per-file column min/max — the second
pruning tier a 100 TB table needs (a day partition can hold
thousands of files; a selective filter on a clustered column should
open only the handful whose range overlaps).

- ``collect_file_stats`` is a distributed scan: files are read where
  they live, grouped by ``_metadata.file_path`` (one shuffle with
  ~#files groups, bytes ∝ files × columns). The resulting stats
  table IS the manifest; persist it next to the table and refresh
  per batch.
- ``pruned_read`` filters the manifest to files whose [min, max]
  overlaps the predicate range and reads only those paths. The
  driver materializes the FILE LIST — manifest-sized, exactly what
  every table-format planner does — never data rows. The caller's
  predicate is re-applied on the surviving rows, so pruning is a
  pure optimization: results are identical with or without it
  (min/max overlap is necessary, not sufficient).

Pair with ``Warehouse.compact(cluster_by=[col])``: range-clustering
makes per-file ranges narrow and disjoint, which is what turns
overlap pruning from "reads everything anyway" into "reads 1 file".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def collect_file_stats(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """Per-file row counts and column min/max for ``columns``, computed
    distributedly (no driver-side footer loop). One row per data file:
    (file, n_rows, <col>_min, <col>_max, ...)."""
    df = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file"), *columns
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in columns:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.groupBy("file").agg(*aggs)


def _schema_probe_file(index: DataFrame, what: str) -> list[str]:
    """One arbitrary data file from a pruning index, used to read the
    table schema when every file prunes away. An EMPTY index (indexed
    table had no files) cannot yield a schema — ``spark.read.parquet()``
    with no paths raises an opaque error, so fail fast with a clear
    one instead (ADVICE r6)."""
    probe = [r["file"] for r in index.select("file").limit(1).collect()]
    if not probe:
        raise ValueError(
            f"{what} index is empty (indexed table has no data files); "
            "cannot derive a result schema — build the index over a "
            "non-empty table or construct the empty frame from an "
            "explicit schema"
        )
    return probe


def prune_files(
    stats: DataFrame, col: str, lo, hi
) -> list[str]:
    """File paths whose [min, max] range overlaps [lo, hi] — the
    manifest-side half of file skipping. Collects only the file list
    (manifest-sized), as any table-format planner does."""
    surviving = stats.filter(
        (F.col(f"{col}_max") >= lo) & (F.col(f"{col}_min") <= hi)
    ).select("file")
    return [r["file"] for r in surviving.collect()]


def pruned_read(
    spark: SparkSession,
    stats: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Read only the files that can contain rows with ``col`` in
    [lo, hi], then re-apply the predicate (overlap is necessary, not
    sufficient — a file spanning the range may hold no matching row).
    Returns an empty-but-typed frame when nothing survives."""
    files = prune_files(stats, col, lo, hi)
    if not files:
        any_file = _schema_probe_file(stats, "file-stats")
        empty = spark.read.parquet(*any_file).filter(F.lit(False))
        return empty.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    return spark.read.parquet(*files).filter(
        (F.col(col) >= lo) & (F.col(col) <= hi)
    )


def pruned_read_multi(
    spark: SparkSession,
    stats: DataFrame,
    preds: list[tuple[str, object, object]],
) -> DataFrame:
    """Multi-column file skipping: keep files whose [min, max] overlaps
    EVERY (col, lo, hi) predicate, then re-apply the exact predicates.
    The payoff of z-order clustering: with interleaved-bit layout each
    file is a small rectangle in (x, y) space, so a 2-D box predicate
    prunes on BOTH dimensions — linear clustering only ever prunes on
    the leading column."""
    cond = F.lit(True)
    for col, lo, hi in preds:
        cond = cond & (F.col(f"{col}_max") >= lo) & (F.col(f"{col}_min") <= hi)
    files = [r["file"] for r in stats.filter(cond).select("file").collect()]
    row_pred = F.lit(True)
    for col, lo, hi in preds:
        row_pred = row_pred & (F.col(col) >= lo) & (F.col(col) <= hi)
    if not files:
        any_file = _schema_probe_file(stats, "file-stats")
        return spark.read.parquet(*any_file).filter(F.lit(False)).filter(row_pred)
    return spark.read.parquet(*files).filter(row_pred)


# -- per-file Bloom filter index (point-lookup file skipping) -----------

def build_file_bloom(
    spark: SparkSession, path: str, key_col: str, m_bits: int = 65536, k: int = 3
) -> DataFrame:
    """Per-file Bloom filter over ``key_col`` — the Delta bloom-filter
    index mechanic on a plain parquet directory. Min/max skipping
    (:func:`collect_file_stats`) answers RANGE predicates but is
    useless for point lookups on a column the files are not clustered
    by; a per-file bloom answers ``key = v`` with no false negatives
    and fpp ≈ (1−e^(−k·n/m))^k.

    Representation: one row per file, ``bits`` = the DISTINCT set bit
    positions (sorted array) of ``k`` seeded xxhash64 probes per key —
    a sparse bloom that stays exact-membership-testable with ordinary
    array ops and degrades gracefully (saturation only wastes space,
    never drops a key). Built distributedly: explode k positions,
    one (file)-keyed agg; no driver-side footer loop.
    """
    base = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file"),
        # hash the canonical STRING rendering: xxhash64 is type-
        # sensitive, and the lookup literal (e.g. a Python int for a
        # BIGINT key) would otherwise hash differently than the column
        F.col(key_col).cast("string").alias("__k"),
    )
    pos = F.array(
        *[
            F.pmod(F.xxhash64("__k", F.lit(i)), F.lit(m_bits)).cast("int")
            for i in range(k)
        ]
    )
    return (
        base.select("file", F.explode(pos).alias("p"))
        .groupBy("file")
        .agg(F.array_sort(F.collect_set("p")).alias("bits"))
    )


def bloom_probe_positions(spark: SparkSession, value, m_bits: int = 65536, k: int = 3):
    """The k probe positions for ``value`` — computed with the SAME
    engine hash used at build time (a one-row job; hashing driver-side
    in Python would silently diverge from xxhash64)."""
    row = spark.range(1).select(
        *[
            F.pmod(
                F.xxhash64(F.lit(value).cast("string"), F.lit(i)), F.lit(m_bits)
            )
            .cast("int")
            .alias(f"p{i}")
            for i in range(k)
        ]
    ).collect()[0]
    return [row[f"p{i}"] for i in range(k)]


def bloom_pruned_read(
    spark: SparkSession,
    blooms: DataFrame,
    key_col: str,
    value,
    m_bits: int = 65536,
    k: int = 3,
) -> DataFrame:
    """Point lookup ``key_col = value`` reading ONLY files whose bloom
    contains all k probe positions (no false negatives ⇒ result equals
    the full-scan filter; false positives only cost extra file reads).
    When every file prunes away, one file is read schema-only to
    return an empty-but-typed frame."""
    probes = bloom_probe_positions(spark, value, m_bits, k)
    lit_probes = F.array(*[F.lit(p) for p in probes])
    surviving = [
        r["file"]
        for r in blooms.filter(
            F.size(F.array_except(lit_probes, F.col("bits"))) == 0
        )
        .select("file")
        .collect()
    ]
    if not surviving:
        any_file = _schema_probe_file(blooms, "bloom")
        return (
            spark.read.parquet(*any_file)
            .filter(F.lit(False))
            .filter(F.col(key_col) == value)
        )
    return spark.read.parquet(*surviving).filter(F.col(key_col) == value)
