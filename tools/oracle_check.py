"""Local differential harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet, then compares:
row count, sorted column names, and values (exact and near). Use this
before committing a new query.

Every query must also leave the session's SQL confs as it found them:
a changed conf prints ``CONF DRIFT <key>: <old> -> <new>``, counts the
query as a failure, and is restored before the next query runs.

Usage: python tools/oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"SCHEMA MISMATCH spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return f"ROWCOUNT MISMATCH spark={len(sdf)} oracle={len(odf)}"
    s, o = normalize(sdf), normalize(odf)
    exact = True
    close = True
    for c in s.columns:
        sv, ov = s[c], o[c]
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(ov.dtype, np.floating):
            sv2 = sv.astype(float).to_numpy()
            ov2 = ov.astype(float).to_numpy()
            both_nan = np.isnan(sv2) & np.isnan(ov2)
            eq = (sv2 == ov2) | both_nan
            if not eq.all():
                exact = False
                if not (np.isclose(sv2, ov2, rtol=1e-9, atol=1e-12) | both_nan).all():
                    close = False
                    bad = np.where(~(np.isclose(sv2, ov2, rtol=1e-9) | both_nan))[0][:3]
                    return f"VALUE MISMATCH col={c} rows={bad.tolist()} spark={sv2[bad]} oracle={ov2[bad]}"
        else:
            eq = (sv.to_numpy() == ov.to_numpy()) | (sv.isna() & o[c].isna()).to_numpy()
            if not eq.all():
                bad = np.where(~eq)[0][:3]
                return (
                    f"VALUE MISMATCH col={c} rows={bad.tolist()} "
                    f"spark={sv.iloc[bad].tolist()} oracle={ov.iloc[bad].tolist()}"
                )
    if exact:
        return "OK exact"
    if close:
        return "OK close (float last-bits differ — tighten determinism!)"
    return "MISMATCH"


def conf_drift(spark, name: str, before: dict[str, str]) -> bool:
    """Print every SQL conf ``name`` changed, then put ``before`` back
    so the leak cannot change the queries after it."""
    after = dict(spark.conf.getAll)
    drifted = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    for k in drifted:
        print(f"{name:35s} CONF DRIFT {k}: {before.get(k)} -> {after.get(k)}")
        if k in before:
            spark.conf.set(k, before[k])
        else:
            spark.conf.unset(k)
    return bool(drifted)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from lakehouse_poc_spark.session import get_spark
    from lakehouse_poc_spark.sources.readers import ensure_session_confs

    spark = get_spark("oracle_check", cpus=8)
    # One oversized generated class (similarity_topk_ivf_trained's
    # fused projection) exceeds janino's method limit; Spark falls
    # back to interpreted mode (spark.sql.codegen.fallback=true, the
    # default) and the query stays exact — but the ERROR stack trace
    # buried real failures in the sweep log (VERDICT r10 task 9).
    # Scope that one logger to FATAL here; the session default stays
    # WARN so genuine errors still surface.
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.catalyst.expressions.codegen."
            "CodeGenerator",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:
        pass
    con = duck_con(sf_dir)
    qs = e.queries()
    oracles = e.oracle_sql()
    # the confs every reader pins, set up front so they never read as
    # drift of whichever query happens to run first
    ensure_session_confs(spark)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        confs = dict(spark.conf.getAll)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            sdf = None
            failures.append(name)
            print(f"{name:35s} SPARK ERROR: {ex}")
        if conf_drift(spark, name, confs) and name not in failures:
            failures.append(name)
        if sdf is None:
            continue
        if name not in oracles:
            print(f"{name:35s} rows-only: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            failures.append(name)
            print(f"{name:35s} ORACLE ERROR: {ex}")
            continue
        verdict = compare(name, sdf, odf)
        if not verdict.startswith("OK"):
            failures.append(name)
        print(f"{name:35s} {verdict}  rows={len(sdf)}  ({time.time()-t0:.1f}s)")
        # Drain async listener callbacks (Observation, execution-UI)
        # before the NEXT query mutates scratch state: a late callback
        # re-touching a just-vacuumed path used to stack-trace into
        # the sweep log (LOCAL_ORACLE_r09.txt:545 — post-success
        # noise, VERDICT r10 task 9). Bounded wait; failures ignored.
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(5000)
        except Exception:
            pass
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
