"""Input-parallelism repair for unsplittable small scans.

A parquet file is splittable only at row-group boundaries; a table
written as one file with one row group yields a ONE-task scan whatever
the cluster width, and every narrow stage above it (per-row hashing,
shingling, regex scoring) runs on a single core.  That is the
"one huge unsplittable file" input-skew case of the optimization
playbook: *repartition immediately after the read*.

``ensure_min_parallelism`` is the scale-adaptive form of that fix: a
no-op whenever the frame is already at least as wide as the session's
default parallelism (the 100 TB case — real corpora scan as thousands
of splits), a single round-robin exchange of the (by premise small)
input when it is not.  The target derives from
``sparkContext.defaultParallelism``, never a constant, so the same
code is right at local[4], local[32], and on a cluster.

Call it on a scan-rooted frame AFTER cheap filters/projections (so
predicate pushdown and column pruning still reach the scan, and the
exchange moves only surviving bytes) and BEFORE expression-heavy
per-row work.  Do NOT use it where downstream values depend on
encounter order (``with_row_index`` without ``order_by``): a
repartition reorders rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["ensure_min_parallelism"]

# logical operators that introduce exchanges (AQE query stages) or
# driver-side collection — a frame containing any of these below the
# partition-count probe would EXECUTE those stages at plan-build time
# (see the guard note in ensure_min_parallelism)
_NON_SCAN_NODES = frozenset(
    {
        "Join",
        "Aggregate",
        "Sort",
        "Window",
        "WindowGroupLimit",
        "Repartition",
        "RepartitionByExpression",
        "RepartitionOperation",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Intersect",
        "Except",
        "GlobalLimit",
        "LocalLimit",
        "CollectMetrics",
    }
)


def _assert_scan_rooted(df: DataFrame) -> None:
    """Fail loudly when ``df`` is not scan+narrow-op rooted (r17,
    ADVICE): the ``df.rdd.getNumPartitions()`` probe below is safe only
    when no shuffle exists in the plan — under AQE, building the RDD of
    a shuffled frame *executes* the upstream query stages at plan-build
    time.  Every call site in this repo applies the helper directly
    above a parquet scan; this guard turns a future misuse into an
    immediate error instead of a silent hidden job."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        node = line.lstrip(" +-:*").split(" ", 1)[0].rstrip(",")
        if node in _NON_SCAN_NODES:
            raise ValueError(
                "ensure_min_parallelism: the input frame contains a "
                f"shuffle/limit operator ({node}) — the partition-count "
                "probe would execute upstream stages at plan-build "
                "time.  Apply the helper directly above the scan "
                "(after narrow filters/projections only)."
            )


def _scan_bytes(df: DataFrame) -> "int | None":
    """Total on-disk bytes of the frame's input files (driver-side
    metadata — no job).  None when the listing is empty or any file is
    not locally stat-able (object stores: the cap simply doesn't
    engage, leaving the defaultParallelism target)."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return None
    return total or None


def ensure_min_parallelism(
    df: DataFrame,
    bytes_per_task: "int | None" = None,
) -> DataFrame:
    """Round-robin repartition ``df`` up to ``defaultParallelism``
    partitions iff it currently has fewer — identity otherwise.

    ``bytes_per_task`` (r17, VERDICT item 3) additionally caps the
    widen target at ``ceil(input_file_bytes / bytes_per_task)`` so a
    tiny frame is not fanned out to ``defaultParallelism`` micro-tasks
    whose scheduling costs more than their work (the r16 scaling block
    showed several widened gates FASTER at 8 cores than 32 for exactly
    this reason).  Pick it per call site from the gate's per-row cost:
    heavy per-row work (BPE, regex scoring) amortizes tiny tasks and
    should pass None (full width); cheap array algebra wants a larger
    value.  The cap reads only driver-side file metadata (no job) and
    disengages on non-local storage.  Scale safety is unchanged: at the
    100 TB design point the scan is already wide and the helper is
    identity before any cap logic runs.

    Safe only on frames whose physical plan has no shuffle below this
    point (scan + filter/project): the partition-count probe builds
    the plan's RDD, which under AQE would *execute* any upstream query
    stages.  This precondition is now ASSERTED (loudly) against the
    optimized logical plan rather than trusted by convention.
    """
    _assert_scan_rooted(df)
    sc = df.sparkSession.sparkContext
    want = sc.defaultParallelism
    if bytes_per_task is not None and bytes_per_task > 0:
        size = _scan_bytes(df)
        if size is not None:
            want = min(want, max(1, -(-size // bytes_per_task)))
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)
