"""Keyed DataFrame cache registry.

Operators that self-join a computed subtree (.cache() it) would pin a
NEW cached RDD on every builder invocation — bench/scaling/service
sessions invoke builders repeatedly, growing executor storage without
bound.  This registry caches once per (application, sf_dir, key) and
reuses it, so repeated invocations share one materialization.

Known tradeoff: if the files under ``sf_dir`` are REWRITTEN within one
application, a cached entry serves the old data — call
:func:`invalidate` after rewriting.  The driver fixtures here are
read-only, so the default is safe.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REGISTRY: dict[tuple, DataFrame] = {}
_VALUES: dict[tuple, object] = {}
# Reentrant: a cached entry's builder may itself resolve another
# cached entry (minhash buckets build from the cached shingle table);
# a plain Lock would deadlock that nesting on first materialization.
_LOCK = threading.RLock()


def cached(
    spark: SparkSession, sf_dir: str, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    full_key = (spark.sparkContext.applicationId, sf_dir, key)
    with _LOCK:
        df = _REGISTRY.get(full_key)
        if df is None:
            # Build inside the lock: concurrent first callers would
            # otherwise both .cache() and orphan one pinned copy.
            df = build().cache()
            _REGISTRY[full_key] = df
        return df


def cached_value(
    spark: SparkSession, sf_dir: str, key: str, build: Callable[[], object]
) -> object:
    """Driver-side companion to :func:`cached` for small DETERMINISTIC
    computed values (e.g. the k x dim trained centroid literals the
    clustering family folds into plans as broadcast expressions).
    Without it, every builder sharing a trained artifact re-runs the
    training iteration per invocation — correct (the value is a pure
    function of the read-only fixtures) but wasteful when several
    catalog queries build on one model.  Same key scheme and
    :func:`invalidate` lifecycle as the DataFrame registry."""
    full_key = (spark.sparkContext.applicationId, sf_dir, key)
    with _LOCK:
        if full_key not in _VALUES:
            _VALUES[full_key] = build()
        return _VALUES[full_key]


def compact_to_source(
    df: DataFrame, source: DataFrame, divisor: int = 8
) -> DataFrame:
    """Coalesce an aggregate to a partition count PROPORTIONAL to its
    source's parallelism before caching: ``max(1, src_parts // divisor)``.

    Why not a constant: a cached aggregate left at
    spark.sql.shuffle.partitions is stored as near-empty partitions
    (AQE cannot reshape an InMemoryRelation), taxing every consumer
    Catalyst substitutes onto the cache with empty-task stages
    (ngram_novelty_rate measured 0.47 s with a compact cache and 0.93 s
    with one left at the shuffle partition count).  But a
    hardcoded ``coalesce(1)`` is the opposite scale-killer: a
    doc-grain aggregate of a 100 TB corpus is billions of rows, and a
    1-partition cached relation funnels every consumer through one
    executor core's memory.  Tying the target to the source scan's
    partition count gives 1 partition at fixture size (the compact
    case above) and O(input/divisor) partitions at cluster scale.  ``divisor``
    reflects the grain drop from source to aggregate (shingle grain ->
    doc/pair grain is >=an order of magnitude).

    ``source.rdd.getNumPartitions()`` plans the lineage but runs no
    job (driver-side file-split math for a scan), so this is free.
    """
    n_src = source.rdd.getNumPartitions()
    return df.coalesce(max(1, n_src // divisor))


def invalidate(sf_dir: str | None = None) -> None:
    """Unpersist and drop entries (all, or those under one sf_dir)."""
    with _LOCK:
        for k in list(_REGISTRY):
            if sf_dir is None or k[1] == sf_dir:
                try:
                    _REGISTRY.pop(k).unpersist()
                except Exception:  # session may already be gone
                    pass
        for k in list(_VALUES):
            if sf_dir is None or k[1] == sf_dir:
                _VALUES.pop(k)
