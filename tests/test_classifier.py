"""Distributed logistic regression: exact-shape parity with the numpy
reference, accuracy over the rule-based label, determinism across
partitionings, and the empty-input guard."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.classifier import logreg_train, margin_expr
from lakehouse_poc_spark.plans.mlops import FEATURES, _feature_frame

SF = "/root/testdata/sf0.001"


def logreg_train_reference(
    X: list[list[float]],
    y: list[float],
    lr: float = 1.0,
    n_iter: int = 30,
) -> tuple[list[float], float]:
    """numpy twin of :func:`logreg_train` (float64 sums in row order —
    matches the decimal-summed distributed path to ~1e-9)."""
    Xa = np.asarray(X, dtype=np.float64)
    ya = np.asarray(y, dtype=np.float64)
    n, k = Xa.shape
    w = np.zeros(k)
    b = 0.0
    for _ in range(n_iter):
        p = 1.0 / (1.0 + np.exp(-(Xa @ w + b)))
        resid = p - ya
        w = w - lr * (Xa.T @ resid / n)
        b -= lr * float(resid.sum()) / n
    return w.tolist(), b


def feat(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return _feature_frame(docs).withColumn("y", F.col("rule_keep").cast("double"))


def test_logreg_matches_numpy_reference(spark):
    f = feat(spark).orderBy("doc_id")
    rows = f.select(*FEATURES, "y").collect()
    X = [[r[c] for c in FEATURES] for r in rows]
    y = [r["y"] for r in rows]
    w_ref, b_ref = logreg_train_reference(X, y, lr=2.0, n_iter=40)
    w, b = logreg_train(f, list(FEATURES), "y", lr=2.0, n_iter=40)
    assert np.allclose(w, w_ref, rtol=1e-9, atol=1e-12)
    assert np.isclose(b, b_ref, rtol=1e-9, atol=1e-12)


def test_logreg_beats_base_rate(spark):
    f = feat(spark)
    w, b = logreg_train(f, list(FEATURES), "y", lr=2.0, n_iter=60)
    m = margin_expr(list(FEATURES), w, b)
    acc = f.agg(F.avg(((m >= 0) == (F.col("y") == 1.0)).cast("double"))).collect()[0][0]
    base = f.agg(F.avg("y")).collect()[0][0]
    assert acc >= max(base, 1 - base) + 0.05
    assert acc >= 0.9


def test_logreg_deterministic_across_partitioning(spark):
    f = feat(spark)
    w1, b1 = logreg_train(f.repartition(1), list(FEATURES), "y", n_iter=10)
    w2, b2 = logreg_train(f.repartition(13), list(FEATURES), "y", n_iter=10)
    # decimal-cast gradient sums → bit-identical regardless of layout
    assert w1 == w2 and b1 == b2


def test_logreg_empty_input_raises(spark):
    f = feat(spark).filter(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        logreg_train(f, list(FEATURES), "y", n_iter=1)
