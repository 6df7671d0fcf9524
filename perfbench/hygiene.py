"""Session-state hygiene around each timed operation.

An operation must leave the session as it found it: the same SQL
confs, temp views and cached data. :func:`snapshot` records that state,
:func:`drift` names what changed, and :func:`restore` puts it back so
the operations after a leaking one still run in a clean session.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SessionState:
    confs: dict[str, str]
    temp_views: frozenset[str]
    persistent_rdds: frozenset[int]
    cache_empty: bool


def temp_view_names(spark) -> frozenset[str]:
    # the session catalog's own list: ``spark.catalog.listTables()``
    # runs a Spark job, which would land between the timed ops
    seq = spark._jsparkSession.sessionState().catalog().getTempViewNames()
    return frozenset(seq.apply(i) for i in range(seq.size()))


def snapshot(spark) -> SessionState:
    jsc = spark.sparkContext._jsc
    return SessionState(
        confs=dict(spark.conf.getAll),
        temp_views=temp_view_names(spark),
        persistent_rdds=frozenset(int(k) for k in jsc.getPersistentRDDs().keySet()),
        cache_empty=bool(spark._jsparkSession.sharedState().cacheManager().isEmpty()),
    )


def drift(before: SessionState, after: SessionState) -> list[str]:
    """Human-readable differences; empty when the state is unchanged."""
    out = []
    for k in sorted(set(before.confs) | set(after.confs)):
        if before.confs.get(k) != after.confs.get(k):
            out.append(f"conf {k}: {before.confs.get(k)!r} -> {after.confs.get(k)!r}")
    for v in sorted(after.temp_views - before.temp_views):
        out.append(f"temp view added: {v}")
    for v in sorted(before.temp_views - after.temp_views):
        out.append(f"temp view dropped: {v}")
    if after.persistent_rdds - before.persistent_rdds:
        out.append(f"persisted RDDs left: {sorted(after.persistent_rdds - before.persistent_rdds)}")
    if before.cache_empty and not after.cache_empty:
        out.append("cached data left in the cache manager")
    return out


def restore(spark, before: SessionState, after: SessionState) -> None:
    """Undo every difference :func:`drift` reports."""
    for k in set(after.confs) - set(before.confs):
        spark.conf.unset(k)
    for k, v in before.confs.items():
        if after.confs.get(k) != v:
            spark.conf.set(k, v)
    for v in after.temp_views - before.temp_views:
        spark.catalog.dropTempView(v)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in after.persistent_rdds - before.persistent_rdds:
        rdd = rdds.get(rid)
        if rdd is not None:
            rdd.unpersist()
    if before.cache_empty and not after.cache_empty:
        spark.catalog.clearCache()
