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

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.deltalog import literal_path


def collect_file_stats(
    spark: SparkSession, files: list[str | Path], columns: list[str]
) -> DataFrame:
    """Per-file row counts and column min/max for ``columns`` over
    ``files`` (a table's live data files — a log table's directory
    also holds superseded ones), computed distributedly (no
    driver-side footer loop). One row per data file:
    (file, n_rows, <col>_min, <col>_max, ...)."""
    df = spark.read.parquet(*map(literal_path, files)).select(
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
    spark: SparkSession,
    files: list[str | Path],
    key_col: str,
    m_bits: int = 65536,
    k: int = 3,
) -> DataFrame:
    """Per-file Bloom filter over ``key_col`` for each of ``files`` —
    the Delta bloom-filter index mechanic, in flight. Min/max skipping
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
    base = spark.read.parquet(*map(literal_path, files)).select(
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


# -- space-filling curves (the layout columns file skipping prunes on) --

def zorder_value(x: "F.Column", y: "F.Column", bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of two normalized integer rank
    columns (each already scaled into [0, 2**bits)): bit i of x lands
    at position 2i, bit i of y at 2i+1. Locality in BOTH dimensions
    maps to locality in the single z value, so range-clustering files
    on z gives two-dimensional file skipping — Delta OPTIMIZE ZORDER's
    core, as a pure expression."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def with_hilbert(
    df: "DataFrame",
    x: "F.Column",
    y: "F.Column",
    bits: int = 8,
    out: str = "__h",
) -> "DataFrame":
    """HILBERT curve index of two integer rank columns (each in
    [0, 2**bits)) — the locality-preserving alternative to Morton
    interleave: the Hilbert walk never jumps across the square, so
    axis-aligned box queries touch fewer, more contiguous index
    ranges than z-order's discontinuous seams. Standard top-down
    xy→d transform (the public Wikipedia/Hamilton formulation), ONE
    PROJECTION LAYER PER LEVEL via withColumn — a single nested
    expression would grow 4^bits nodes (each level references the
    previous x/y several times), while the layered form stays linear
    and Catalyst's CollapseProject leaves multi-referenced non-cheap
    columns uncollapsed. Pure JVM integer ops, no UDF."""
    d = df.withColumn("__hx", x.cast("long")).withColumn(
        "__hy", y.cast("long")
    ).withColumn(out, F.lit(0).cast("long"))
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        d = (
            d.withColumn(
                "__rx", F.shiftright("__hx", i).bitwiseAND(F.lit(1))
            )
            .withColumn(
                "__ry", F.shiftright("__hy", i).bitwiseAND(F.lit(1))
            )
            .withColumn(
                out,
                F.col(out)
                + F.lit(s * s)
                * (3 * F.col("__rx")).bitwiseXOR(F.col("__ry")),
            )
            # rotate the quadrant: ry==0 → (flip when rx==1), swap
            .withColumn(
                "__nx",
                F.when(
                    F.col("__ry") == 0,
                    F.when(
                        F.col("__rx") == 1, F.lit(s - 1) - F.col("__hy")
                    ).otherwise(F.col("__hy")),
                ).otherwise(F.col("__hx")),
            )
            .withColumn(
                "__ny",
                F.when(
                    F.col("__ry") == 0,
                    F.when(
                        F.col("__rx") == 1, F.lit(s - 1) - F.col("__hx")
                    ).otherwise(F.col("__hx")),
                ).otherwise(F.col("__hy")),
            )
            .withColumn("__hx", F.col("__nx"))
            .withColumn("__hy", F.col("__ny"))
        )
    return d.drop("__hx", "__hy", "__rx", "__ry", "__nx", "__ny")


def hilbert_sql(
    base_select: str, keep_cols: str, x: str, y: str, bits: int = 8
) -> str:
    """The SAME transform as :func:`with_hilbert`, rendered as chained
    ANSI-SQL subqueries (one per level — linear size, same reason as
    the layered DataFrame form) so a DuckDB oracle computes
    bit-identical indexes. ``keep_cols`` are carried through; the
    result exposes them plus ``hd`` (the Hilbert index)."""
    q = (
        f"SELECT {keep_cols}, CAST({x} AS BIGINT) AS hx, "
        f"CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
        f"FROM ({base_select})"
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"((hx >> {i}) & 1)"
        ry = f"((hy >> {i}) & 1)"
        q = (
            f"SELECT {keep_cols}, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hy ELSE hy END) ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hx ELSE hx END) ELSE hy END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd "
            f"FROM ({q})"
        )
    return q
