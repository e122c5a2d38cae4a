"""Streaming READ of a governed snapshot table — the consumer half of
the ingest→table→stream story whose write half is
``streaming/snapshot_sink.py``.

Beyond-reference surface (the reference — ``src/smashed/mappers`` —
has no table or streaming notion); the protocol underneath is
sources/snapshot.py.  This is what Delta/Iceberg users reach for as
``spark.readStream.table(...)``: checkpointed offsets, bounded
micro-batches, an ``availableNow``-style drain, and a documented
rewrite policy.

``read_snapshot_stream`` loops the ONE at-least-once drain of
``sources/change_feed.py`` — the poll ``snapshot_change_feed`` runs
once, unbounded — so offsets, bootstrap, the append-chain walk, the
rewrite policy (``on_rewrite``: ValueError for a rewrite on the
chain, FileNotFoundError for a checkpoint vacuumed off it, or a
``"full_resync"`` catch-up batch) and the process-then-advance order
are that module's, with every scan JVM-side: the throughput shape for
heavy backfills.  ``streaming/datasource.py`` registers the other
shape, a ``spark.readStream.format("smashed_snapshot")`` source whose
progress lives in Spark's own offset log.  What the loop adds:

* the offset is ``offset.json`` under ``checkpoint_dir`` (local or
  s3); make ``process`` idempotent on the batch's ``upto`` version;
* each micro-batch covers at most ``max_versions_per_batch`` append
  commits, with a checkpoint after each — a consumer resuming into a
  deep backlog drains it in bounded pieces;
* ``available_now=True`` pins the head version at entry and drains up
  to it, then returns (the ``Trigger.AvailableNow`` shape); appends
  landing mid-drain are the NEXT call's backlog.  ``False`` keeps
  polling (``poll_interval_s`` between empty polls) until ``stop()``
  returns True or ``max_polls`` is exhausted.

``restore_snapshot`` commits an explicit ``"restore"`` step, so a
consumer resuming across a restore sees the rewrite policy, never
silence — pinned by tests/test_snapshot_source.py.
"""

from __future__ import annotations

import time
from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..sources.change_feed import _check_policy, _drain, _read_offset
from ..sources.io_utils import SmartPath

__all__ = ["read_snapshot_stream", "read_stream_offset"]


def _offset_path(checkpoint_dir: str) -> str:
    return str(SmartPath.parse(checkpoint_dir) / "offset.json")


def read_stream_offset(checkpoint_dir: str, client=None) -> Optional[int]:
    """The last fully-consumed snapshot version the checkpoint
    records, or None before the first committed batch."""
    return _read_offset(_offset_path(checkpoint_dir), client=client)


def read_snapshot_stream(
    spark: SparkSession,
    table_root: str,
    checkpoint_dir: str,
    process: Callable[[DataFrame, Optional[int], int], None],
    initial: str = "full",
    on_rewrite: str = "raise",
    where: Optional[Sequence] = None,
    max_versions_per_batch: int = 1,
    available_now: bool = True,
    poll_interval_s: float = 10.0,
    max_polls: Optional[int] = None,
    stop: Optional[Callable[[], bool]] = None,
    client=None,
    allow_driver_download: bool = False,
) -> dict:
    """Stream a governed snapshot table into ``process(df, since,
    upto)`` with checkpointed progress — this module's and
    ``sources/change_feed.py``'s docstrings have the delivery
    contract.  Returns a status dict ``{"batches": [...],
    "version": <last committed offset>, "polls": N}`` where each batch
    record is ``{"status": "bootstrap"|"changes"|"full_resync",
    "since": ..., "upto": ...}``.

    ``initial``: ``"full"`` delivers the whole current snapshot as the
    first batch (``since=None``); ``"latest"`` starts the stream at
    the current version without delivering existing rows.
    ``where=`` applies the envelope file-skipping + re-filter contract
    to every delivered batch."""
    verb = "read_snapshot_stream"
    _check_policy(verb, initial, on_rewrite)
    if max_versions_per_batch < 1:
        raise ValueError(
            "read_snapshot_stream: max_versions_per_batch must be >= 1"
        )
    if not available_now and max_polls is None and stop is None:
        raise ValueError(
            "read_snapshot_stream: continuous mode (available_now="
            "False) needs a termination signal — pass stop=<callable> "
            "or max_polls=<int> (or run available_now=True per poll "
            "from your own scheduler)"
        )
    batches: List[dict] = []
    polls = 0
    while available_now or stop is None or not stop():
        delivered = _drain(
            spark, table_root, _offset_path(checkpoint_dir), process, verb,
            initial, on_rewrite, where, max_versions_per_batch, client,
            allow_driver_download,
        )["batches"]
        batches.extend(delivered)
        polls += 1
        if available_now or (max_polls is not None and polls >= max_polls):
            break
        if not delivered:
            time.sleep(poll_interval_s)
    return {
        "batches": batches,
        "version": read_stream_offset(checkpoint_dir, client=client),
        "polls": polls,
    }
