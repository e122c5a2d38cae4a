"""Broadcast-or-shuffle sizing: the one rule every operator uses to
decide whether a side is small enough to broadcast.

Two facts can answer "is this side small?":

* Catalyst's plan-time size estimate (:func:`plan_size_bytes`) — free,
  no Spark job, and known for every file-backed source;
* a bounded row count (:func:`capped_count`) — one query that reads
  at most ``cap + 1`` rows, because ``limit`` pushes into the plan, so
  the probe stays O(cap) however large the side is (a bare
  ``count()`` would be a full scan at 100 TB).

:func:`fits` combines them: the estimate when a byte cap is given and
the estimate is known, the bounded count otherwise.  Row count
upper-bounds the distinct key count, so a row cap never
under-estimates a broadcast key set.

:data:`BROADCAST_KEYS` is the shared key cap for forget lists,
sidecars, merge batches and the ingest probe: lists are usually
thousands to low millions of keys, and above this a broadcast would
strain the executors, so the shuffled join is the honest plan.
Operators read it at call time (``sizing.BROADCAST_KEYS``), so a test
or a tool that patches it here moves every such decision at once.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

BROADCAST_KEYS = 2_000_000

_UNKNOWN_SIZE = (1 << 63) - 1  # Catalyst's defaultSizeInBytes sentinel


def plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's size estimate for a DataFrame (optimized-plan stats,
    e.g. parquet file bytes for a scan) — available at plan time, so
    strategy selection triggers **no Spark job**, unlike ``df.count()``
    (a full scan at 100 TB).  Returns ``None`` when the estimate is
    unknown: either the exact Long.MaxValue sentinel (RDD-backed /
    ``createDataFrame`` leaves) or anything within two orders of
    magnitude of it — operators above an unknown leaf multiply the
    sentinel by selectivity/column ratios, producing huge
    derived-from-sentinel values that are still not real estimates.
    File-backed sources always report a real (and sane) size."""
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    return None if size >= _UNKNOWN_SIZE // 100 else size


def capped_count(df: DataFrame, cap: int) -> int:
    """The row count of ``df``, or ``cap + 1`` if it has more: one
    query that reads at most ``cap + 1`` rows (under adaptive
    execution two jobs — the single-partition limit exchange, then the
    count)."""
    return df.limit(cap + 1).count()


def fits(df: DataFrame, rows: int, max_bytes: Optional[int] = None) -> bool:
    """Whether ``df`` is small enough to broadcast: at most
    ``max_bytes`` by the plan estimate (no job) when ``max_bytes`` is
    given and the estimate is known, else at most ``rows`` rows by one
    :func:`capped_count` query."""
    if max_bytes is not None:
        size = plan_size_bytes(df)
        if size is not None:
            return size <= max_bytes
    return capped_count(df, rows) <= rows
