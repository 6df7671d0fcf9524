"""Distributed logistic-regression quality classifier — the standard
model-based document-quality filter in web-scale training-data
pipelines (a linear classifier over cheap text statistics, à la the
fastText-style quality filters described in public LLM-dataset papers
such as CCNet / GPT-3 / Gopher).

Training is full-batch gradient descent expressed as DataFrame
aggregations: each iteration computes the gradient with ONE job whose
shuffle payload is k+2 numbers (k = feature count) — the same
"driver holds only model-sized state" shape as kmeans_train and
bpe_train. The feature matrix never leaves the executors; a 100 TB
corpus costs n_iter scans of a narrow projected relation (cache it on
a cluster with enough memory, or let the parquet scan re-run — both
are O(corpus)/iter with no driver materialization).

Determinism: every gradient sum is computed as
``SUM(CAST(expr AS DECIMAL(38,18)))`` then cast back to double — the
repo-wide convention (plans/__init__.py) — so partial-aggregation
order cannot perturb the weights; training is bit-reproducible across
partitionings. The sigmoid itself runs JVM-side per row (exp is
deterministic for a given input on a given platform).

Scoring (:func:`margin_expr`) is a pure codegen linear expression —
no UDF, no exp — usable directly in a filter pushed against the scan.

Reference parity: the reference engine has no ML operators; this
extends the LLM-data-pipeline family (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,18)"


def _dec_sum(col: Column) -> Column:
    """Order-independent (exact decimal) sum, returned as double."""
    return F.sum(col.cast(_DEC)).cast("double")


def margin_expr(feature_cols: list[str], weights: list[float], bias: float) -> Column:
    """Linear margin w·x + b as a left-to-right chained expression
    (bit-identical to a SQL twin written in the same order)."""
    out: Column = F.lit(float(bias))
    for c, w in zip(feature_cols, weights):
        out = out + F.lit(float(w)) * F.col(c).cast("double")
    return out


def logreg_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 1.0,
    n_iter: int = 30,
    l2: float = 0.0,
) -> tuple[list[float], float]:
    """Full-batch GD for logistic regression; returns (weights, bias).

    One narrow cached projection, ``n_iter`` jobs of k+2 decimal sums
    each. The learning rate is per-example (gradient is averaged), so
    it transfers across corpus sizes.
    """
    k = len(feature_cols)
    data = df.select(
        *[F.col(c).cast("double").alias(f"x{j}") for j, c in enumerate(feature_cols)],
        F.col(label_col).cast("double").alias("y"),
    ).persist()
    n = data.count()
    if n == 0:
        data.unpersist()
        raise ValueError("empty training set")
    w = [0.0] * k
    b = 0.0
    try:
        for _ in range(n_iter):
            z = margin_expr([f"x{j}" for j in range(k)], w, b)
            resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("y")
            row = data.agg(
                *[_dec_sum(resid * F.col(f"x{j}")).alias(f"g{j}") for j in range(k)],
                _dec_sum(resid).alias("gb"),
            ).collect()[0]
            w = [
                wj - lr * (float(row[f"g{j}"]) / n + l2 * wj)
                for j, wj in enumerate(w)
            ]
            b -= lr * float(row["gb"]) / n
        return w, b
    finally:
        data.unpersist()


