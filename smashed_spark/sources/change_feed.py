"""Incremental consumption of a governed snapshot table: the ONE
at-least-once drain both driver-side consumers run, and
``snapshot_change_feed``, a single unbounded poll of it — the
poll-based analog of Delta's streaming source for consumers that want
batch control (an Airflow task, a cron'd index builder) rather than a
loop.  ``read_snapshot_stream`` (streaming/snapshot_source.py) loops
the same drain with bounded batches.

Beyond-reference surface (the reference — ``src/smashed/mappers`` —
has no table or changefeed notion); the protocol underneath is
sources/snapshot.py.

The drain
---------
One poll reads the OFFSET (a tiny JSON object, local file or s3 key,
holding the last version whose rows the consumer has fully
processed), resolves the head, and then:

* no offset yet: ``initial="full"`` delivers the whole head snapshot
  (``since=None``, status ``"bootstrap"``); ``"latest"`` records the
  head and delivers nothing;
* otherwise it walks the append chain from the offset to the head
  (``snapshot._append_steps``, the walk ``read_snapshot_changes``
  uses) and delivers each run of at most ``max_versions`` appends as
  its exact file-level diff (status ``"changes"``);
* a REWRITE on the chain (compact/optimize/delete/merge/restore)
  invalidates file-level increments: ``on_rewrite="raise"`` raises
  ValueError, and an offset vacuumed off the chain raises
  FileNotFoundError; ``"full_resync"`` delivers the ENTIRE head
  snapshot as one catch-up batch instead (status ``"full_resync"``) —
  the recovery for consumers whose processing is idempotent at the
  row level (an index rebuild, an upsert sink).

Delivery is AT-LEAST-ONCE: the offset is written atomically (the
table pointer's ``_write_atomic`` recipe) and only AFTER ``process``
returns, so a crash between the two replays the same batch on the
next poll.  Make ``process`` idempotent (key side effects on the
batch's version, the way ``snapshot_batch_writer`` keys on batch id)
or wrap it in your own transaction.
"""

from __future__ import annotations

import json
from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from .io_utils import SmartPath
from .snapshot import (
    _append_steps,
    _read_added,
    _read_json,
    _write_atomic,
    read_snapshot,
    resolve_snapshot,
)

__all__ = ["snapshot_change_feed", "read_feed_cursor"]


def _read_offset(path: str, client=None) -> Optional[int]:
    doc = _read_json(path, client=client)
    return None if doc is None else int(doc["version"])


def read_feed_cursor(cursor_path: str, client=None) -> Optional[int]:
    """The last fully-consumed version the cursor records, or None
    when no poll has committed yet."""
    return _read_offset(str(SmartPath.parse(cursor_path)), client=client)


def _check_policy(verb: str, initial: str, on_rewrite: str) -> None:
    if initial not in ("full", "latest"):
        raise ValueError(
            f"{verb}: initial={initial!r} — pass 'full' (deliver the "
            "existing rows first) or 'latest' (start at the current "
            "version)"
        )
    if on_rewrite not in ("raise", "full_resync"):
        raise ValueError(
            f"{verb}: on_rewrite={on_rewrite!r} — pass 'raise' or "
            "'full_resync'"
        )


def _drain(
    spark: SparkSession,
    table_root: str,
    offset_path: str,
    process: Callable[[DataFrame, Optional[int], int], None],
    verb: str,
    initial: str,
    on_rewrite: str,
    where: Optional[Sequence],
    max_versions: Optional[int],
    client=None,
    allow_driver_download: bool = False,
) -> dict:
    """One poll of the drain (module docstring): deliver everything
    between the offset at ``offset_path`` and the head, in batches of
    at most ``max_versions`` appends (``None``: one batch).  Returns
    ``{"since": <offset at entry>, "version": <head>, "batches":
    [{"status", "since", "upto"}, ...]}``."""
    head = resolve_snapshot(table_root, client=client)
    entry = _read_offset(offset_path, client=client)
    batches: List[dict] = []

    def advance(df: Optional[DataFrame], upto: int, status: str) -> None:
        # process first, move the offset only after it returns
        if df is not None:
            since = batches[-1]["upto"] if batches else entry
            process(df, since, upto)
            batches.append({"status": status, "since": since, "upto": upto})
        _write_atomic(
            offset_path, json.dumps({"version": int(upto)}), client=client
        )

    def full() -> DataFrame:
        return read_snapshot(
            spark,
            table_root,
            version=head.version,
            where=where,
            client=client,
            allow_driver_download=allow_driver_download,
        )

    if entry is None:
        advance(
            full() if initial == "full" else None, head.version, "bootstrap"
        )
    elif entry != head.version:
        try:
            chain = _append_steps(
                table_root, head, entry, verb, client=client
            )
        except (ValueError, FileNotFoundError) as e:
            if on_rewrite == "raise":
                raise type(e)(
                    f"{e}; pass on_rewrite='full_resync' if the consumer "
                    "is row-idempotent, or rebuild it from a full read"
                ) from e
            advance(full(), head.version, "full_resync")
        else:
            step = max_versions or len(chain)
            lo = 0
            while lo < len(chain) - 1:
                hi = min(lo + step, len(chain) - 1)
                df = _read_added(
                    spark, table_root, chain[lo], chain[hi], where,
                    client, allow_driver_download,
                )
                advance(df, chain[hi].version, "changes")
                lo = hi
    return {"since": entry, "version": head.version, "batches": batches}


def snapshot_change_feed(
    spark: SparkSession,
    table_root: str,
    cursor_path: str,
    process: Callable[[DataFrame, Optional[int], int], None],
    initial: str = "full",
    on_rewrite: str = "raise",
    where: Optional[Sequence] = None,
    client=None,
    allow_driver_download: bool = False,
) -> dict:
    """Poll once: hand ``process(df, since_version, new_version)``
    every row added since the cursor, then advance the cursor — see
    the module docstring for the delivery contract.  Returns a status
    dict: ``{"status": "noop"|"changes"|"bootstrap"|"full_resync",
    "since": ..., "version": ...}``.

    ``initial``: ``"full"`` processes the whole current snapshot on
    the first poll (``since_version=None``); ``"latest"`` skips
    existing data and starts the feed at the current version.
    ``where=`` applies the envelope file-skipping + re-filter
    contract to every delivered batch."""
    verb = "snapshot_change_feed"
    _check_policy(verb, initial, on_rewrite)
    out = _drain(
        spark, table_root, str(SmartPath.parse(cursor_path)), process, verb,
        initial, on_rewrite, where, None, client, allow_driver_download,
    )
    if not out["batches"]:
        return {
            "status": "noop", "since": out["since"], "version": out["version"]
        }
    (batch,) = out["batches"]
    return {
        "status": batch["status"],
        "since": batch["since"],
        "version": batch["upto"],
    }
