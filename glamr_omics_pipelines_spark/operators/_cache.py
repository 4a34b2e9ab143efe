"""Persist-handle registry: a release path for operator-internal caches.

Several operators persist() intermediates that are read by multiple subplans
(LSH bucket tables, shingle inverted indexes, candidate pairs). The
DataFrames they return reference those caches lazily, so the operator cannot
know when its consumer is done and must not unpersist eagerly. This registry
keeps a handle to every such cache so library consumers can release them all
with one call once their results are materialized:

    from glamr_omics_pipelines_spark.operators import _cache
    ...  # run dedup / similarity pipelines, collect/write results
    _cache.release_caches()

``spark.catalog.clearCache()`` (what bench.py uses between queries) is the
global-hammer equivalent; release_caches() only touches caches this library
created. Handles are STRONG references on purpose: the operator-local
DataFrame object dies at function exit while its JVM cache blocks live on,
so a weak handle would be gone exactly when release is needed. The Python
wrapper held here is tiny; the JVM-side blocks are the real resource and
they exist either way until unpersisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_HANDLES: list[DataFrame] = []


def register(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() a DataFrame and record a releasable handle to it."""
    df.persist(storage_level) if storage_level is not None else df.persist()
    _HANDLES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every registered cache; returns how many were released."""
    released = 0
    for df in _HANDLES:
        try:
            df.unpersist()
            released += 1
        except Exception:  # session already stopped — nothing to release
            pass
    _HANDLES.clear()
    return released
