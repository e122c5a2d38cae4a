"""Exactly-once streaming appends into a snapshot table
(sources/snapshot.py) — the object-store landing zone for a
continuously-ingesting 100 TB corpus.

Beyond-reference surface (the reference — ``src/smashed/mappers/*`` —
has no streaming at all).  Composes Structured Streaming's
``foreachBatch`` with the snapshot append commit: each micro-batch
commits as one snapshot version, so readers always see whole batches
(the pointer flip is the commit) and time travel / incremental
``read_snapshot_changes`` work out of the box.

Exactly-once argument
---------------------
Structured Streaming guarantees at-least-once delivery of each
``batch_id`` to a ``foreachBatch`` body (a crash between the body and
the checkpoint commit replays the id).  The table-side effect is made
idempotent by ONE watermark gate, ``snapshot._watermark_gate``, which
every streaming writer reaches — the bodies here and the registered
sink of ``streaming/datasource.py``:

* Every committed batch stamps ``stream_app_id``/``stream_batch_id``
  into its manifest's properties, and EVERY snapshot commit — the
  appends, but also compact/optimize/delete rewrites — re-states those
  keys from its parent (``snapshot._PROPAGATED_PROPS``), so the
  watermark survives any maintenance commit and any vacuum.
* The gate runs INSIDE the commit, against the parent each attempt
  lands on (Delta checks its ``txn`` id the same way): a ``batch_id``
  at or below the parent's watermark commits nothing.  A second
  delivery of the same batch that commits while this one writes makes
  this one's rebase skip, not commit the batch twice.
* A crash BEFORE the pointer flip leaves only unreferenced debris
  (snapshot crash window 1/2); the replay appends a fresh prefix.
  A crash AFTER the flip but before the checkpoint commit is the
  replayed-batch case above.

``app_id`` is the checkpoint's identity (Delta's ``txnAppId``
pattern): batch ids restart at 0 for a NEW checkpoint, so comparing
them across checkpoints would silently drop data.  A mismatch between
the table's recorded app and the writer's raises; ``takeover=True`` is
the operator's explicit assertion that the old checkpoint is dead and
the new one's ids start fresh.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence, Tuple

from pyspark.sql import DataFrame

from ..sources.io_utils import SmartPath
from ..sources.snapshot import (
    _CARRY_ALL,
    _commit_plan,
    _Plan,
    _pointer_version,
    _schema_of,
    _watermark_gate,
    _Watermark,
    resolve_snapshot,
)

__all__ = [
    "dedup_snapshot_batch_writer",
    "snapshot_batch_writer",
    "stream_commit_watermark",
    "streaming_dedup_to_snapshot",
    "streaming_snapshot_append",
]


def stream_commit_watermark(
    table_root: str, client=None
) -> Tuple[Optional[str], Optional[int]]:
    """The table's (app_id, batch_id) streaming watermark — what the
    last committed micro-batch stamped, as propagated to the CURRENT
    manifest.  (None, None) for a table with no snapshot or no
    streaming history."""
    try:
        props = resolve_snapshot(table_root, client=client).properties
    except FileNotFoundError:
        return (None, None)
    app = props.get("stream_app_id")
    bid = props.get("stream_batch_id")
    return (
        None if app is None else str(app),
        None if bid is None else int(bid),
    )


def snapshot_batch_writer(
    table_root: str,
    app_id: str,
    stats_columns: Optional[Sequence[str]] = None,
    compression: str = "zstd",
    takeover: bool = False,
    client=None,
    on_commit: Optional[Callable[[dict], None]] = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` body: idempotent append of each
    micro-batch as one snapshot version (module docstring has the
    exactly-once argument).  The first batch on an empty table is a
    publish; every later one an append.  ``on_commit`` (driver-side,
    keep it cheap) receives ``{"batch_id", "version", "rows",
    "skipped"}`` per delivery — including replays, with
    ``skipped=True``.

    ``stats_columns=None`` (default) inherits the table's envelope-
    stats column set on every append (computed from the parent
    manifest the commit already resolves — no extra GETs): a stream
    that skipped stats would otherwise add
    envelope-less files that every later keyed delete/merge must
    conservatively rewrite.  The FIRST batch (the publish) has no
    parent to inherit from — pass an explicit list to seed stats on
    a fresh table."""

    verb = "snapshot_batch_writer"
    root = SmartPath.parse(table_root)

    def _body(batch: DataFrame, batch_id: int) -> None:
        # the watermark gate runs inside the commit, against the parent
        # each attempt lands on, so the head manifest is read once per
        # batch; the pointer alone picks publish (empty table) or append
        mark = _Watermark(app_id, int(batch_id), takeover)
        if _pointer_version(root, client=client) is None:
            plan = _Plan(verb, "publish", stream=mark)
        else:
            plan = _Plan(
                verb, "append", carry=_CARRY_ALL, on_race="rebase",
                stream=mark,
            )
        info = _commit_plan(
            plan,
            table_root,
            _schema_of(batch),
            batch,
            compression=compression,
            stats_columns=stats_columns,
            client=client,
        )
        if on_commit is not None:
            on_commit(
                {
                    "batch_id": batch_id,
                    "version": None if info is None else info.version,
                    "rows": None if info is None else info.row_count,
                    "skipped": info is None,
                }
            )

    return _body


def dedup_snapshot_batch_writer(
    table_root: str,
    state_dir: str,
    app_id: str,
    stats_columns: Optional[Sequence[str]] = None,
    compression: str = "zstd",
    takeover: bool = False,
    client=None,
    on_commit: Optional[Callable[[dict], None]] = None,
    on_stats: Optional[Callable[[dict], None]] = None,
    **dedup_kwargs,
) -> Callable[[DataFrame, int], None]:
    """The governed landing zone in one ``foreachBatch`` body: scrub
    each micro-batch against the running dedup indexes
    (:func:`~smashed_spark.streaming.ingest.ingest_dedup_batch` —
    exact digests + MinHash bands + optional semantic cells) and
    commit the SURVIVORS as one snapshot version.

    Replay discipline — the two effects have different idempotence
    mechanisms and BOTH must hold on an at-least-once redelivery:

    * The index extensions under ``state_dir`` are idempotent by
      per-batch overwrite, so the dedup + index writes re-run on
      every delivery.  (Skipping them on a detected replay would be
      wrong: if the previous attempt crashed between the snapshot
      append and an index write, the skip would lose the batch's
      index rows and re-admit its duplicates forever.)
    * The snapshot append is idempotent via the exactly-once
      watermark: a replayed ``batch_id`` at or below the table's
      recorded one skips ONLY the table commit.

    Checkpoint identity and the ingest state: the table commit is
    keyed on ``(app_id, batch_id)``, but the per-batch index dirs
    under ``state_dir`` are keyed on the bare ``batch_id`` — so a
    TAKEOVER (new checkpoint whose ids restart at 0 with different
    data) would silently hide and then overwrite the dead
    checkpoint's same-numbered index extensions, re-admitting its
    duplicates forever.  The body therefore refuses a takeover while
    per-batch index dirs exist, naming the remediation:
    ``compact_ingest_state(state_dir, include_latest=True)`` folds
    them into the collision-free ``batch=-1`` partition (dedup history
    preserved), after which the new checkpoint's ids are safe.  A SAME-app restart needs no such
    step: the documented contract is that a given (app, batch id)
    always redelivers the same data, so recompute+overwrite is
    idempotent.

    ``on_stats`` receives each batch's dedup stats dict (drop counts,
    index growth — :func:`~smashed_spark.streaming.ingest
    .ingest_dedup_batch` ``return_stats`` docs); ``on_commit``
    receives the table-side commit record.  Passing ``return_stats``
    through ``dedup_kwargs`` is rejected loudly, exactly as
    ``streaming_ingest_dedup`` rejects it: the body has nowhere to
    return the dict, so it would pay the extra per-batch input
    evaluation and deliver nothing.

    ``dedup_kwargs`` forward to ``ingest_dedup_batch`` (fuzzy banding
    parameters, ``verify_threshold``, field names, semantic
    centroids...).  Local-filesystem ``table_root`` (the snapshot
    writes run through Spark; this sandbox's s3 tier is
    driver-staged and would serialize the hot path)."""
    import glob as _glob
    import os as _os

    from .ingest import ingest_dedup_batch

    if "return_stats" in dedup_kwargs:
        raise ValueError(
            "dedup_snapshot_batch_writer: pass on_stats=<callable> "
            "instead of return_stats — the foreachBatch body discards "
            "return values, so return_stats would cost an extra input "
            "evaluation per batch and deliver nothing"
        )

    verb = "dedup_snapshot_batch_writer"
    append_batch = snapshot_batch_writer(
        table_root,
        app_id,
        stats_columns=stats_columns,
        compression=compression,
        takeover=takeover,
        client=client,
        on_commit=on_commit,
    )

    def _per_batch_index_dirs():
        return [
            d
            for sub in ("digests", "bands", "semantic")
            for d in _glob.glob(_os.path.join(state_dir, sub, "batch=*"))
            if not d.endswith("batch=-1")
        ]

    def _body(batch: DataFrame, batch_id: int) -> None:
        # the identity check runs BEFORE any index work (the commit's
        # gate comes too late: a foreign batch would already have
        # overwritten same-numbered index dirs), through the one gate
        # for both owners: the table's watermark app and the state_dir
        # marker — the marker catches a reused state_dir under a FRESH
        # table, whose watermark app is None.  A same-app redelivery
        # matches both and recomputes + overwrites idempotently.
        mark = _Watermark(app_id, int(batch_id), takeover)
        app, _last = stream_commit_watermark(table_root, client=client)
        marker_path = _os.path.join(state_dir, "_STATE_APP")
        state_app = None
        if _os.path.isfile(marker_path):
            with open(marker_path, "r", encoding="utf-8") as fh:
                state_app = fh.read().strip() or None
        if state_app is None and app is None and _per_batch_index_dirs():
            # a PRE-MARKER state_dir (legacy checkpoint, no _STATE_APP)
            # under a fresh/recreated table: nobody can vouch for the
            # batch=N dirs in it, so they are treated exactly like a
            # foreign checkpoint's — anonymous extensions would collide
            # with this checkpoint's restarted ids just the same
            state_app = "<unmarked legacy checkpoint>"
        verdicts = [
            _watermark_gate(verb, where, {"stream_app_id": owner}, mark)
            for where, owner in (
                (f"table {table_root!r}", app),
                (f"state_dir {state_dir!r}", state_app),
            )
        ]
        stale = _per_batch_index_dirs() if "takeover" in verdicts else []
        if stale:
            raise RuntimeError(
                f"{verb}: takeover with {len(stale)} per-batch index "
                f"dirs still under {state_dir!r} — the new checkpoint's "
                "restarted batch ids would hide and then overwrite the "
                "dead checkpoint's same-numbered index extensions, "
                "re-admitting its duplicates.  Run "
                "compact_ingest_state(state_dir, include_latest=True) "
                "first (folds them into the collision-free batch=-1 "
                "partition, history preserved)."
            )
        if state_app != app_id:
            _os.makedirs(state_dir, exist_ok=True)
            with open(marker_path, "w", encoding="utf-8") as fh:
                fh.write(app_id)
        stats = ingest_dedup_batch(
            batch,
            state_dir,
            out_dir=None,
            batch_id=batch_id,
            survivors_sink=append_batch,
            return_stats=on_stats is not None,
            **dedup_kwargs,
        )
        if on_stats is not None:
            on_stats(stats)

    return _body


def streaming_dedup_to_snapshot(
    stream: DataFrame,
    table_root: str,
    state_dir: str,
    checkpoint_dir: str,
    app_id: str,
    query_name: str = "dedup_to_snapshot",
    available_now: bool = True,
    **writer_kwargs,
):
    """Run the dedup-then-append landing zone over an unbounded
    stream: ``foreachBatch(dedup_snapshot_batch_writer(...))``.
    Returns the started ``StreamingQuery``; see
    :func:`dedup_snapshot_batch_writer` for the replay discipline."""
    from .runner import start_foreach_batch

    body = dedup_snapshot_batch_writer(
        table_root, state_dir, app_id, **writer_kwargs
    )
    return start_foreach_batch(
        stream,
        body,
        checkpoint_dir,
        query_name,
        available_now,
        "streaming_dedup_to_snapshot",
        "for batch data call dedup_snapshot_batch_writer directly",
    )


def streaming_snapshot_append(
    stream: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    app_id: str,
    query_name: str = "snapshot_append",
    available_now: bool = True,
    **writer_kwargs,
):
    """Run the exactly-once snapshot sink over an unbounded stream:
    ``foreachBatch(snapshot_batch_writer(...))``.  Returns the started
    ``StreamingQuery``.  ``available_now=True`` drains the available
    input and self-terminates (backfill / test mode); ``False`` runs
    continuously.  ``writer_kwargs`` forward to
    :func:`snapshot_batch_writer` (``stats_columns``, ``on_commit``,
    ``takeover``...)."""
    from .runner import start_foreach_batch

    body = snapshot_batch_writer(table_root, app_id, **writer_kwargs)
    return start_foreach_batch(
        stream,
        body,
        checkpoint_dir,
        query_name,
        available_now,
        "streaming_snapshot_append",
        "for batch data call publish_snapshot/append_snapshot directly",
    )
