"""Object-store snapshot publishing: write-new-prefix + versioned
manifest + atomic pointer flip.

Beyond-reference surface (the reference — ``src/smashed/mappers/*`` —
is a single-machine library and never publishes datasets).  This module
implements the recipe the in-place rewriters refuse for object stores
(layout.py ``_local_path``: "write a NEW prefix ... then flip your
table pointer ... and delete the old prefix after"): a minimal
Iceberg/Delta-style table protocol that makes compaction, GDPR
deletions, and any other full-rewrite maintenance CRASH-SAFE where
100 TB actually lives — storage with no atomic directory rename.

Table layout under ``table_root`` (local directory or ``s3://`` prefix)::

    table_root/
      data/v00000001-<token>/...parquet   immutable, one prefix/version
      _manifests/v00000001.json           immutable, one per version
      _latest.json                        THE pointer (tiny, atomic)

Protocol invariants
-------------------
* **Data prefixes and manifests are immutable once written** — a
  publish never touches an existing version's bytes, so a reader
  holding any resolved snapshot keeps a consistent view forever (until
  an explicit :func:`vacuum_snapshots`).
* **The pointer flip is the commit.**  Locally it is ``os.replace`` of
  a same-directory temp file; on S3 it is a single ``PutObject`` —
  both atomic, so a racing reader sees the old or the new pointer,
  never a partial one, and either target is a fully-written
  manifest+prefix (the manifest is only written after the data files,
  the pointer only after the manifest).
* **Readers never list.**  ``resolve_snapshot`` is two GETs (pointer,
  manifest); the manifest carries the file list, so eventual-consistency
  of S3 LIST can never hide a fresh file from a reader.

Crash windows (writer side)
---------------------------
1. Crash during/after the data write, before the manifest: the orphan
   prefix is unreferenced and invisible (readers follow the pointer);
   :func:`vacuum_snapshots` garbage-collects it with
   ``drop_unpublished=True`` — opt-in, because a manifest-less prefix
   is also what a publish IN FLIGHT looks like.  A retried publish
   allocates a fresh random prefix token, so it can never collide with
   the orphan.
2. Crash after the manifest, before the pointer: the orphan manifest
   is OFF the pointer's parent chain and invisible to readers; version
   allocation scans manifests too, so the retry takes the NEXT number.
   Vacuum removes off-chain manifests only with
   ``drop_unpublished=True`` (default False — under the documented
   single-writer assumption an off-chain manifest is always a crash
   remnant, but the flag keeps "vacuum while a publish is in flight"
   from destroying it by default).
3. The flip itself: atomic on both tiers (see above) — no window.

Concurrency: every verb commits through :func:`_commit`, whose
lost-update check (the pointer is re-read immediately before the flip)
DETECTS a second writer — plain S3 has no compare-and-swap to build a
real lock on.  What a verb does after losing the race depends on
whether it commutes with the winner: appends rebase, positional
deletes rebase onto an append-only chain, everything else refuses.
The three policies are stated once, in ``_commit``'s docstring.  A
streaming micro-batch's exactly-once watermark is checked against the
parent of every attempt (:func:`_watermark_gate`), so a rebase skips a
batch another delivery committed meanwhile.

Scale notes
-----------
* The data write IS a normal Spark write.  On a real cluster with
  hadoop-aws on the classpath, executors write straight to the new
  ``s3a://`` prefix (zero driver bytes).  THIS sandbox has no s3
  Hadoop connector, so the s3 tier stages the Spark write in a local
  temp dir and uploads via io_utils — driver-side and sequential,
  fine for the moto tests that certify the PROTOCOL, wrong for bulk
  data; the seam is :func:`_write_data_prefix`, and the manifest/
  pointer machinery above it is byte-identical either way.
* Manifests list every file with its size: for a 100 TB / 128 MB-file
  table that is ~800k entries, a few tens of MB of JSON — one object,
  written once, read once per job.  (Iceberg splits manifests for
  million-file tables; this protocol accepts the single-object ceiling
  and says so.)
* :func:`compact_snapshot` reuses layout.py's ``packed_scan_conf`` so
  the compaction rewrite is still a ZERO-exchange scan→write, now
  landing in a new prefix instead of an in-place swap.

Appends, stats, and skipping (manifest spec 2)
----------------------------------------------
A 100 TB ingest table APPENDS daily; rewriting the world per publish
would be absurd.  :func:`append_snapshot` writes only the new rows'
prefix and its manifest carries the parent's file entries VERBATIM
plus the new ones — O(new data) work per append, however large the
table.  Spec-2 manifests therefore list files by TABLE-ROOT-relative
path (a snapshot may span many prefixes) and record every referenced
prefix, so :func:`vacuum_snapshots` never sweeps a prefix an older
append chain still shares with the current snapshot.

Each file entry may carry per-column ``min``/``max``/``nulls`` footer
stats (``stats_columns=`` at publish time, aggregated over row groups
once, at write; appends never recompute the parent's).  ``read_snapshot
(where=...)`` uses them for Iceberg-style FILE SKIPPING: conjunctive
range predicates drop files whose envelope cannot match, and the same
predicates are then applied as ordinary Spark filters, so skipping is
purely an optimization — semantics are exactly ``filter`` whatever the
stats say.  Float/double columns are REFUSED for stats by design:
parquet writers (pyarrow included — verified in this environment)
compute min/max ignoring NaN, and under Spark semantics NaN is greater
than every value, so a NaN-blind ``max`` could prune a file containing
matches.  String stats are safe even when a writer truncates them:
parquet truncation keeps a prefix for min (still a lower bound) and
increments the last byte for max (still an upper bound), and envelope
pruning needs only bound validity, never exactness.

Maintenance verbs (the Delta/Iceberg-shaped surface)
----------------------------------------------------
All commit through the same protocol, all crash-safe, all file-scoped
where envelopes allow: :func:`compact_snapshot` (zero-exchange
bin-packed rewrite; also applies and clears pending positional
deletes), :func:`optimize_snapshot` (Z-order clustering,
``incremental=True`` re-keys only unclustered files under persisted
bounds), :func:`apply_deletions_snapshot` (forget-list delete,
envelope-pruned to the files whose key ranges can match, optional
``scope_where``; ``positional=True`` is the merge-on-read tier for
keys the table is NOT clustered by — (file, row-index) sidecars,
zero files rewritten, reads anti-join them away),
:func:`merge_snapshot` (keyed MERGE/upsert — the
daily re-crawl verb: matched rows take the batch copy, unmatched
insert, untouched files carried verbatim), and
:func:`restore_snapshot` (metadata-only ROLLBACK to a chain version
or ``as_of`` instant — zero data moved, history preserved).  Time
travel: ``version=`` or ``as_of=`` (committed_at chain walk) on
:func:`resolve_snapshot` / :func:`read_snapshot`, named versions via
:func:`resolve_tag` (or ``SnapshotLoaderMapper(tag=...)``);
``resolve_snapshot(verify_chain=True)`` refuses off-chain rebase
debris.
:func:`snapshot_table_stats` is the manifest-only describe-table,
including ``envelope_overlap_avg`` — the health check that predicts
whether keyed deletes/merges will scope (~1) or degrade to O(table)
(>> 1: re-cluster by the key, or re-collect stats).

Tags (pinned releases)
----------------------
:func:`tag_snapshot` pins a version under a name ("the 2026-08
training set") via a tiny pointer under ``_tags/``.  Tagged versions —
and every data prefix they reference — are exempt from vacuum, and
chain members are only ever vacuumed as a connected PREFIX (oldest
first, stopping at the first kept version): "published" is defined by
pointer ancestry, so dropping a version BETWEEN a pinned release and
the present would strand the release off-chain, indistinguishable
from crash debris.  Retargeting an existing tag requires an explicit
``replace=True``.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass
from typing import Dict, List, NamedTuple, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import sizing
from . import io_utils
from .io_utils import SmartPath
from .layout import packed_scan_conf

MANIFEST_DIR = "_manifests"
POINTER_NAME = "_latest.json"
# where the registered write paths (streaming/datasource.py, which
# keeps its own copy of this name — parity-pinned by its tests) stage
# task files before the commit-time rename into a data prefix
_STAGING_DIR_NAME = "_staging"
DATA_DIR = "data"

# forget-key sets at or below this collect to the driver for literal
# per-file `in` pruning (tightest file scoping); above it the plan
# degrades to min/max range pruning — two scalars, never a big collect
DEFAULT_PRUNE_COLLECT_KEYS = 100_000

# positional-delete sidecars broadcast only while their recorded
# parquet bytes stay under this (their rows carry a path string each,
# far wider than scalar forget keys — the row cap alone,
# core.sizing.BROADCAST_KEYS, could force a GB-scale hash relation
# near its limit); above it the anti-join shuffles honestly.
# Dictionary encoding makes real sidecars much smaller than raw, so
# this admits tens of millions of positions.
DELETE_BROADCAST_BYTES = 64 << 20

# optimistic-append rebases before giving up: append commits commute,
# so a lost pointer race re-resolves the new parent and retries; a
# bounded count keeps a livelocked table loud instead of spinning
DEFAULT_COMMIT_RETRIES = 4

# positional-delete sidecar files are sharded to roughly this many
# (path, pos) rows each: a single coalesce(1) task serializing a
# 100M-row forget sweep would make the one tier whose pitch is
# "O(deleted rows), whatever the layout" driver-bound at exactly the
# scale it exists for.  ~4M slim rows ≈ tens of MB per file after
# dictionary encoding — few enough files that reads stay cheap, small
# enough that no single write task owns the sweep.
SIDECAR_ROWS_PER_FILE = 4_000_000

# compact-debt advice thresholds (snapshot_table_stats): recommend a
# compact/full-optimize once pending positional-delete sidecars exceed
# this many files or this fraction of the table's physical rows —
# every read pays one anti-join per accumulated sidecar batch, and the
# debt only clears on a rewrite.
COMPACT_DEBT_FILES = 8
COMPACT_DEBT_ROW_FRACTION = 0.05

# manifest properties every publish re-states from its parent unless
# the caller overrides them: the streaming sink's exactly-once
# watermark must not vanish when a compaction (which sets its own
# properties) commits on top of the last stream append, or when vacuum
# later removes that append's manifest.  The optimize contract
# (bounds/bits/cluster_by) propagates the same way so an INCREMENTAL
# optimize can run off the current snapshot after any number of
# appends/deletes without chasing the last optimize's manifest
_PROPAGATED_PROPS = (
    "stream_app_id", "stream_batch_id",
    "zorder_bounds", "zorder_bits", "cluster_by",
)


@dataclass(frozen=True)
class SnapshotInfo:
    """A resolved snapshot: everything a reader needs, no listing.

    ``files`` entries are normalized to TABLE-ROOT-relative paths at
    resolve time (spec-1 manifests, which listed paths relative to
    their single data prefix, are rewritten on read), each with
    ``bytes``, optionally ``rows`` and per-column ``stats``.
    """

    version: int
    table_root: str
    data_prefix: str  # THIS version's own write prefix, fully-qualified
    prefixes: List[str]  # every root-relative prefix the snapshot spans
    files: List[Dict[str, object]]
    row_count: int
    parent: Optional[int]
    operation: str
    committed_at: float
    # {column: spark simpleString type} as written; None for spec-1
    # manifests that predate the field
    columns: Optional[Dict[str, str]]
    # free-form operation metadata carried by the manifest (e.g. the
    # fitted Z-order bounds an optimize publish must hand the next one)
    properties: Dict[str, object]
    # schema-evolution registry: {schema_id: {column: type}} for every
    # generation still referenced by a live file, and the id current
    # writes land under.  None for manifests predating evolution
    # support (every file then shares the manifest's ``columns``).
    schemas: Optional[Dict[str, Dict[str, str]]] = None
    schema_id: str = "0"
    # declarative partition transforms: {dir_column: ["days"|"hours",
    # src_col] or ["bucket", src_col, n]}.  The transform column lives
    # only in directory names (readers scan explicit files, so it
    # never enters the schema); each file entry records its values
    # under "partition" and plan_snapshot_scan prunes on them.
    partition_transforms: Optional[Dict[str, List]] = None
    # the version a restore commit rolled back to (operation
    # "restore" only) — the audit answer to "what did this restore
    # restore?", surfaced by snapshot_history
    restored_from: Optional[int] = None
    # pending POSITIONAL deletes (merge-on-read): sidecar parquet
    # files of (path, pos) rows every read anti-joins away.  Entries
    # are {"path": root-relative sidecar, "rows": n, "bytes": b}.
    # None/empty = merge-on-write only (the common case).
    delete_files: Optional[List[Dict[str, object]]] = None

    @property
    def file_paths(self) -> List[str]:
        """Fully-qualified data-file paths — for handing to an engine
        directly (e.g. s3a:// on a real cluster).  CAVEAT: a raw scan
        of these paths IGNORES pending ``delete_files`` (positionally
        deleted rows come back); go through ``read_snapshot`` — or
        compact first — when ``delete_files`` is non-empty."""
        base = self.table_root.rstrip("/")
        return [f"{base}/{f['path']}" for f in self.files]


def _manifest_key(version: int) -> str:
    return f"{MANIFEST_DIR}/v{version:08d}.json"


def _pointer_path(root: SmartPath) -> str:
    return str(root / POINTER_NAME)


def _write_atomic(path: str, payload: str, client=None) -> None:
    """Atomic whole-object write on both tiers: same-directory temp +
    ``os.replace`` locally; a single PUT on s3 (atomic object replace
    in S3's model — readers see the old or the new body, never a mix).
    """
    sp = SmartPath.parse(path)
    if sp.is_s3:
        with io_utils.open_file_for_write(path, "w", client=client) as f:
            f.write(payload)
        return
    parent = os.path.dirname(sp.local)
    if parent:
        os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(
        parent or ".", f".{os.path.basename(sp.local)}.{uuid.uuid4().hex}"
    )
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, sp.local)


def _read_json(path: str, client=None) -> Optional[dict]:
    if not io_utils.exists(path, client=client):
        return None
    with io_utils.open_file_for_read(path, "r", client=client) as f:
        return json.load(f)


def _pointer_version(root: SmartPath, client=None) -> Optional[int]:
    doc = _read_json(_pointer_path(root), client=client)
    return None if doc is None else int(doc["version"])


def list_snapshots(table_root: str, client=None) -> List[int]:
    """Versions with a manifest present, ascending.  Listing is a
    WRITER/maintenance concern (allocation, vacuum) — readers resolve
    through the pointer and never call this."""
    root = SmartPath.parse(table_root)
    out = []
    for f in io_utils.recursively_list_files(
        str(root / MANIFEST_DIR), client=client
    ):
        name = f.rsplit("/", 1)[-1]
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _as_of_epoch(as_of) -> float:
    """Normalize an ``as_of`` instant to epoch seconds — numbers pass
    through, tz-aware datetimes convert, naive datetimes refuse (the
    session-timezone ambiguity the whole pruning layer refuses)."""
    import datetime as _dt

    if isinstance(as_of, bool):
        raise TypeError(f"as_of: expected an instant, got {as_of!r}")
    if isinstance(as_of, (int, float)):
        return float(as_of)
    if isinstance(as_of, _dt.datetime):
        if as_of.tzinfo is None:
            raise TypeError(
                f"as_of: naive datetime {as_of!r} — committed_at is a "
                "UTC epoch instant; pass a timezone-aware datetime or "
                "epoch seconds"
            )
        return as_of.timestamp()
    raise TypeError(
        f"as_of: expected epoch seconds or a tz-aware datetime, got "
        f"{type(as_of).__name__}"
    )


def _as_of_version(
    root: SmartPath, as_of, table_root: str, client=None
) -> dict:
    """The newest chain manifest committed at-or-before ``as_of`` —
    one GET per chain step walked, and the matched manifest document
    is returned (already parsed) so the caller never re-fetches it.
    Manifests predating ``committed_at`` refuse: defaulting them to
    epoch 0 would silently serve a state NEWER than the asked-for
    instant."""
    epoch = _as_of_epoch(as_of)
    cursor = _pointer_version(root, client=client)
    if cursor is None:
        raise FileNotFoundError(
            f"resolve_snapshot: no pointer at {_pointer_path(root)!r} "
            "— nothing has been published to this table root"
        )
    while cursor is not None:
        doc = _read_json(str(root / _manifest_key(cursor)), client=client)
        if doc is None:
            raise FileNotFoundError(
                f"resolve_snapshot: as_of chain walk broke at v{cursor} "
                f"under {table_root!r} — the chain is vacuumed past the "
                "requested instant; older states are unrecoverable"
            )
        if doc.get("committed_at") is None:
            raise ValueError(
                f"resolve_snapshot: v{cursor} of {table_root!r} has no "
                "committed_at (a manifest predating the field) — as_of "
                "cannot order against it without silently serving a "
                "too-new state; resolve by version= instead"
            )
        if float(doc["committed_at"]) <= epoch:
            return doc
        cursor = doc.get("parent")
    raise ValueError(
        f"resolve_snapshot: as_of instant predates version 1 of "
        f"{table_root!r} — nothing was published yet at that time"
    )


def resolve_snapshot(
    table_root: str,
    version: Optional[int] = None,
    client=None,
    as_of=None,
    verify_chain: bool = False,
) -> SnapshotInfo:
    """Resolve the current (or an explicit ``version``) snapshot: two
    GETs, no listing.  Raises if the table has no published snapshot or
    the requested version's manifest is absent (vacuumed or never
    committed).

    ``as_of`` (exclusive with ``version``) is timestamp time travel:
    the newest snapshot on the CURRENT pointer chain whose
    ``committed_at`` is <= the given instant — a tz-AWARE datetime or
    an epoch-seconds number (``committed_at`` is ``time.time()``, so
    epoch is the native currency; a naive datetime is refused, the
    same tz-ambiguity stance the stats pruner takes).  Walks parent
    links from the pointer, one manifest GET per step; refuses when
    the instant predates version 1 or the chain is vacuumed past it.

    CAVEAT (explicit ``version``): an append that lost a pointer race
    and rebased leaves its earlier manifests behind as OFF-CHAIN
    debris — states that were never current (each is missing the
    concurrent commit it lost to).  A bare ``version=N`` GET cannot
    tell debris from history; pass ``verify_chain=True`` to walk the
    pointer chain and refuse any version not on it (O(chain) manifest
    GETs).  ``as_of`` resolution walks the chain by construction and
    can never serve debris."""
    root = SmartPath.parse(table_root)
    manifest: Optional[dict] = None
    if as_of is not None:
        if version is not None:
            raise ValueError(
                "resolve_snapshot: version= and as_of= are exclusive"
            )
        # the walk already parsed the matched manifest — reuse it
        # (one GET saved per as_of resolution)
        manifest = _as_of_version(root, as_of, table_root, client=client)
        version = int(manifest["version"])
    if version is None:
        version = _pointer_version(root, client=client)
        if version is None:
            raise FileNotFoundError(
                f"resolve_snapshot: no pointer at {_pointer_path(root)!r} "
                "— nothing has been published to this table root"
            )
    elif verify_chain and as_of is None:
        cursor = _pointer_version(root, client=client)
        on_chain = False
        while cursor is not None and cursor >= version:
            if cursor == version:
                on_chain = True
                break
            doc = _read_json(
                str(root / _manifest_key(cursor)), client=client
            )
            if doc is None:
                raise FileNotFoundError(
                    f"resolve_snapshot: chain walk broke at v{cursor} "
                    f"under {table_root!r} (vacuumed) — cannot verify "
                    f"v{version} is on the published chain"
                )
            cursor = doc.get("parent")
        if not on_chain:
            raise ValueError(
                f"resolve_snapshot: v{version} of {table_root!r} is "
                "not on the published pointer chain — it is off-chain "
                "debris from a rebased append (a state that was never "
                "current); resolve without verify_chain=True only if "
                "you mean to inspect it"
            )
    if manifest is None:
        manifest = _read_json(
            str(root / _manifest_key(version)), client=client
        )
    if manifest is None:
        raise FileNotFoundError(
            f"resolve_snapshot: no manifest for version {version} under "
            f"{table_root!r} (vacuumed, or a publish that never committed)"
        )
    own_prefix = str(manifest["data_prefix"])
    files = [dict(f) for f in manifest["files"]]
    prefixes = manifest.get("prefixes")
    if prefixes is None:
        # spec-1 manifest: single prefix, file paths relative to it —
        # normalize to the spec-2 root-relative convention on read
        prefixes = [own_prefix]
        for f in files:
            f["path"] = f"{own_prefix}/{f['path']}"
    return SnapshotInfo(
        version=int(manifest["version"]),
        table_root=str(root),
        data_prefix=str(root / own_prefix),
        prefixes=[str(p) for p in prefixes],
        files=files,
        row_count=int(manifest["row_count"]),
        parent=manifest.get("parent"),
        operation=str(manifest.get("operation", "publish")),
        committed_at=float(manifest.get("committed_at", 0.0)),
        columns=(
            dict(manifest["columns"]) if "columns" in manifest else None
        ),
        properties=dict(manifest.get("properties") or {}),
        schemas=(
            {str(k): dict(v) for k, v in manifest["schemas"].items()}
            if "schemas" in manifest
            else None
        ),
        schema_id=str(manifest.get("schema_id", "0")),
        partition_transforms=(
            {str(k): list(v) for k, v in
             manifest["partition_transforms"].items()}
            if "partition_transforms" in manifest
            else None
        ),
        restored_from=(
            int(manifest["restored_from"])
            if "restored_from" in manifest
            else None
        ),
        delete_files=(
            [dict(d) for d in manifest["delete_files"]]
            if manifest.get("delete_files")
            else None
        ),
    )


def _next_version(root: SmartPath, client=None) -> int:
    """1 + the newest manifest on disk — an orphan manifest from a
    crashed publish (window 2) must not be reused.  Callers take the
    max with 1 + the head they planned against, from their own
    pointer read rather than a second GET (a listing that lags still
    cannot reuse the head's number); a pointer that moved since is
    caught by :func:`_commit`'s re-read."""
    return max([0] + list_snapshots(str(root), client=client)) + 1


def _commit(
    root: SmartPath,
    table_root: str,
    manifest: Dict[str, object],
    expect_parent: Optional[int],
    client=None,
) -> Optional[SnapshotInfo]:
    """THE commit: the only place a version manifest is written and the
    pointer flipped.  The order is the crash-safety argument (module
    docstring, crash windows 2 and 3) and must not change:

    1. if ``manifest``'s version already has a manifest, a second
       writer claimed the number while we were writing data — never
       clobber it (manifests are immutable).  Detection, not
       prevention: the exists→write pair is not atomic on plain S3, but
       it turns the silent-overwrite failure mode into a loud one in
       every race this side of a same-millisecond photo finish;
    2. write the manifest atomically;
    3. re-read the pointer: if it moved off ``expect_parent``, flipping
       now would silently drop the winner's snapshot from the chain;
    4. flip the pointer atomically — this IS the commit;
    5. resolve and return the committed version.

    Returns ``None`` when the race is lost at step 1 or 3.  No pointer
    is written then; a manifest written at step 2 is off-chain debris,
    exactly like crash window 2.  What the caller does next is its
    concurrency policy, stated by ``_Plan.on_race`` (restore, which
    commits no plan, refuses); there are three:

    * ``"rebase"`` — **appends rebase and retry** (``append_snapshot``
      and ``append_files_snapshot``, bounded by
      ``DEFAULT_COMMIT_RETRIES``): an append only ADDS files, so the
      loser re-resolves the new head, re-carries its file list,
      re-allocates a version and commits again, reusing the immutable
      data prefix of its first attempt — a rebase costs two small
      JSON writes, not a data rewrite.  Both appends land,
      linearized.  A rebase that finds the written files no longer
      match the table's schema or partition layout refuses.
    * ``"append_only"`` — **positional deletes rebase onto an
      append-only chain** (same bound, via
      :func:`_rebase_append_only_head`): the sidecar's (file,
      position) pairs still point at exactly the rows they were
      computed over after any number of pure appends, so the delete
      re-commits onto the new head; any concurrent rewrite refuses.
      Semantics are write-serializable, matching Iceberg's positional
      tier: the delete applies to the rows that existed when it was
      PLANNED; a row with a matching key appended concurrently is not
      scanned and survives.
    * ``"refuse"`` — **everything else refuses**: publish, compact,
      optimize, the copy-on-write delete and merge, the positional
      merge and restore are SINGLE WRITER by contract: a rewrite
      rebased onto a moved parent would silently drop the concurrent
      commit's rows, a positional merge could leave two live copies
      of a key appended concurrently, and a restore was planned
      against the head it replaces.
    """
    version = int(manifest["version"])
    manifest_path = str(root / _manifest_key(version))
    if io_utils.exists(manifest_path, client=client):
        return None
    _write_atomic(
        manifest_path, json.dumps(manifest, indent=1), client=client
    )
    if _pointer_version(root, client=client) != expect_parent:
        return None
    _write_atomic(
        _pointer_path(root),
        json.dumps({"version": version, "manifest": _manifest_key(version)}),
        client=client,
    )
    return resolve_snapshot(table_root, version, client=client)


def _race_error(
    verb: str, version: int, table_root: str, rebasing: bool
) -> RuntimeError:
    """The error a verb raises once it stops retrying a lost
    :func:`_commit` race: a ``rebasing`` verb after its rebase budget,
    any other verb at once."""
    if rebasing:
        why = (
            f"still racing after {DEFAULT_COMMIT_RETRIES} rebase "
            "retries — sustained concurrent writes"
        )
    else:
        why = (
            "concurrent writer detected; this table requires a single "
            "writer for non-append operations"
        )
    return RuntimeError(
        f"{verb}: lost the commit of v{version} on {table_root!r} — "
        f"{why}.  The prepared manifest {_manifest_key(version)!r}, if "
        "written, was NOT published; it and any prefix this commit "
        "wrote are debris (vacuum with drop_unpublished=True sweeps "
        "them).  Re-run against the current snapshot."
    )


def _local_parquet_files(local_dir: str) -> List[str]:
    out = []
    for cur, dirs, names in os.walk(local_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet"):
                out.append(os.path.join(cur, n))
    return sorted(out)


# ---------------------------------------------------------------------------
# per-file column stats (manifest spec 2) and envelope pruning
# ---------------------------------------------------------------------------


def _stats_kind(arrow_type) -> Optional[str]:
    """JSON-serializable stats kind for an arrow column type, or None
    if the column is ineligible.  Float/double are ineligible BY
    DESIGN (module docstring: parquet min/max is NaN-blind while Spark
    orders NaN above everything, so a float envelope could prune a
    file that matches); binary/nested types are simply unsupported."""
    import pyarrow as pa

    if pa.types.is_boolean(arrow_type):
        return "bool"
    if pa.types.is_integer(arrow_type):
        return "int"
    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return "str"
    if pa.types.is_date(arrow_type):
        return "date"
    if pa.types.is_timestamp(arrow_type):
        # instant (tz-adjusted, Spark TIMESTAMP) vs wall-clock
        # (TIMESTAMP_NTZ) are DIFFERENT kinds with different literal
        # rules: an instant predicate must be tz-aware (a naive
        # literal is interpreted in Spark's SESSION timezone, which
        # the pruner cannot see — comparing it against UTC stats
        # would skip matching files); a wall-clock predicate must be
        # naive for the symmetric reason.
        return "ts" if arrow_type.tz is not None else "tsntz"
    return None


def _norm_stat(value, kind: str):
    """Normalize a footer statistic (or a predicate literal) to its
    JSON form.  date → ISO 'YYYY-MM-DD'; ts → naive-UTC ISO with fixed
    microsecond precision — both compare lexicographically in
    chronological order, so the pruner needs no datetime parsing."""
    import datetime as _dt

    if kind == "int":
        if isinstance(value, bool) or not isinstance(value, int):
            raise TypeError(f"expected int, got {value!r}")
        return value
    if kind == "bool":
        if not isinstance(value, bool):
            raise TypeError(f"expected bool, got {value!r}")
        return value
    if kind == "str":
        if not isinstance(value, str):
            raise TypeError(f"expected str, got {value!r}")
        return value
    if kind == "date":
        if isinstance(value, _dt.datetime):
            raise TypeError(f"expected date, got datetime {value!r}")
        if isinstance(value, _dt.date):
            return value.isoformat()
        if isinstance(value, str):
            return _dt.date.fromisoformat(value).isoformat()
        raise TypeError(f"expected date, got {value!r}")
    if kind in ("ts", "tsntz"):
        if isinstance(value, str):
            value = _dt.datetime.fromisoformat(value)
        if not isinstance(value, _dt.datetime):
            raise TypeError(f"expected datetime, got {value!r}")
        if kind == "ts":
            if value.tzinfo is None:
                raise TypeError(
                    f"expected a timezone-AWARE datetime, got naive "
                    f"{value!r} — this column is an instant (Spark "
                    "TIMESTAMP); Spark would interpret a naive literal "
                    "in the session timezone, which the pruner cannot "
                    "see, so naive instants are refused outright"
                )
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        elif value.tzinfo is not None:
            raise TypeError(
                f"expected a NAIVE datetime, got {value!r} — this "
                "column is wall-clock time (TIMESTAMP_NTZ) with no "
                "timezone to convert through"
            )
        return value.isoformat(timespec="microseconds")
    raise ValueError(f"unknown stats kind {kind!r}")


def _file_column_stats(
    pf, stats_columns: Sequence[str]
) -> Dict[str, Dict[str, object]]:
    """Aggregate one parquet file's row-group footer stats into
    per-column ``{kind, min, max, nulls}``.  Conservative: a column is
    OMITTED for this file (pruner keeps the file) unless every
    non-empty row group either carries min/max or is provably all-NULL;
    ``nulls`` is omitted if any row group lacks a null count."""
    schema = pf.schema_arrow
    kinds: Dict[str, str] = {}
    for c in stats_columns:
        idx = schema.get_field_index(c)
        if idx < 0:
            raise ValueError(
                f"stats_columns: {c!r} not in schema {schema.names}"
            )
        kind = _stats_kind(schema.field(idx).type)
        if kind is None:
            raise ValueError(
                f"stats_columns: {c!r} has type {schema.field(idx).type} — "
                "only int/bool/string/date/timestamp columns carry "
                "envelope stats (float is refused: parquet min/max is "
                "NaN-blind, see module docstring)"
            )
        kinds[c] = kind

    md = pf.metadata
    col_idx = {
        md.row_group(0).column(i).path_in_schema: i
        for i in range(md.row_group(0).num_columns)
    } if md.num_row_groups else {}
    out: Dict[str, Dict[str, object]] = {}
    for c, kind in kinds.items():
        mins, maxes, nulls, valid = [], [], 0, True
        nulls_known = True
        for g in range(md.num_row_groups):
            col = md.row_group(g).column(col_idx[c])
            st = col.statistics
            n_rows = md.row_group(g).num_rows
            if st is not None and st.has_null_count:
                nulls += st.null_count
            else:
                nulls_known = False
            if n_rows == 0:
                continue
            if st is not None and st.has_min_max:
                mins.append(_norm_stat(st.min, kind))
                maxes.append(_norm_stat(st.max, kind))
            elif st is not None and st.has_null_count and (
                st.null_count == n_rows
            ):
                continue  # all-NULL group contributes no envelope
            elif col.physical_type == "INT96":
                raise ValueError(
                    f"stats_columns: {c!r} was written as INT96 (Spark's "
                    "legacy default, which carries no footer min/max) — "
                    "set spark.sql.parquet.outputTimestampType="
                    "TIMESTAMP_MICROS before publishing to make "
                    "timestamp envelopes available"
                )
            else:
                valid = False
                break
        if not valid:
            continue
        entry: Dict[str, object] = {"kind": kind}
        if mins:
            entry["min"] = min(mins)
            entry["max"] = max(maxes)
        if nulls_known:
            entry["nulls"] = nulls
        out[c] = entry
    return out


#: supported predicate operators for ``where=`` pruning
_PRUNE_OPS = ("=", "<", "<=", ">", ">=", "in")


def _file_can_match(
    entry: Dict[str, object], col: str, op: str, value, _cache=None
) -> bool:
    """Conservative envelope test: False ONLY when the file provably
    contains no matching row.  Missing stats → True (keep).

    ``_cache`` (a per-predicate dict plan_snapshot_scan threads
    through) memoizes literal normalization by stats kind, so a
    100k-key ``in`` list against an 800k-file manifest normalizes each
    key once, not once per file."""
    rows = entry.get("rows")
    if rows == 0:
        return False
    stats = (entry.get("stats") or {}).get(col)
    if not stats:
        return True
    kind = stats["kind"]
    if "min" not in stats:
        # every row group was all-NULL for this column; NULL fails
        # every comparison predicate
        return False
    lo, hi = stats["min"], stats["max"]
    if op == "in":
        normed = None
        if _cache is not None:
            normed = _cache.get(("in", kind))
        if normed is None:
            normed = sorted(_norm_stat(v, kind) for v in value)
            if _cache is not None:
                _cache[("in", kind)] = normed
        # sorted + bisect: the membership-in-envelope test is
        # O(log k) per file instead of O(k)
        i = bisect.bisect_left(normed, lo)
        return i < len(normed) and normed[i] <= hi
    if _cache is not None and ("lit", kind) in _cache:
        v = _cache[("lit", kind)]
    else:
        v = _norm_stat(value, kind)
        if _cache is not None:
            _cache[("lit", kind)] = v
    if op == "=":
        return lo <= v <= hi
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    if op == ">":
        return hi > v
    if op == ">=":
        return hi >= v
    raise ValueError(f"unsupported prune op {op!r} (use one of {_PRUNE_OPS})")


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _validate_transforms(
    spec: Dict[str, Sequence],
    columns: Dict[str, str],
    strict_bucket_types: bool = True,
) -> Dict[str, List]:
    """Normalize/validate a partition-transform spec against the data
    columns: each entry is ``name: ("days"|"hours", src)`` or
    ``name: ("bucket", src, n)`` — src must be a data column, the dir
    name must NOT be one (it lives only in paths).

    ``strict_bucket_types=False`` (inherited specs on carried commits)
    skips the SOURCE-TYPE restrictions (bucket and days/hours alike):
    the table already exists with that layout, the pruners' literal
    guards keep reads safe whatever the source type (``_bucketable``
    for buckets; ``_partition_can_match`` never time-prunes a string
    source), and refusing would brick every append to a previously
    healthy table."""
    out: Dict[str, List] = {}
    for name, raw in spec.items():
        t = list(raw)
        if not t or t[0] not in ("days", "hours", "bucket"):
            raise ValueError(
                f"partition_transforms[{name!r}]: kind must be one of "
                f"days/hours/bucket, got {t[:1]}"
            )
        if t[0] == "bucket":
            if len(t) != 3 or int(t[2]) < 1:
                raise ValueError(
                    f"partition_transforms[{name!r}]: bucket needs "
                    "(\"bucket\", src, n>=1)"
                )
            t[2] = int(t[2])
        elif len(t) != 2:
            raise ValueError(
                f"partition_transforms[{name!r}]: {t[0]} needs "
                f"(\"{t[0]}\", src)"
            )
        src = t[1]
        if src not in columns:
            raise ValueError(
                f"partition_transforms[{name!r}]: source column "
                f"{src!r} not in the data columns {sorted(columns)}"
            )
        if (
            strict_bucket_types
            and t[0] == "bucket"
            and columns[src] not in (
                "string", "tinyint", "smallint", "int", "bigint", "date"
            )
        ):
            # Python-side literal hashing at plan time must reproduce
            # Spark's CAST(col AS STRING) at write time; string,
            # integer, and date types have provably identical text
            # forms (str(datetime.date) is yyyy-MM-dd, same as CAST)
            raise ValueError(
                f"partition_transforms[{name!r}]: bucket source "
                f"{src!r} is {columns[src]} — bucket transforms "
                "support string, integer, and date columns (float/"
                "bool/timestamp text forms differ between the "
                "writer's CAST and the pruner's str())"
            )
        if (
            strict_bucket_types
            and t[0] in ("days", "hours")
            and columns[src] not in ("date", "timestamp", "timestamp_ntz")
        ):
            # the write side's date_format CASTS a string source to
            # timestamp (honoring embedded UTC offsets: '2023-12-31T23:
            # 00:00-05:00' lands in directory 2024-01-01) while a read
            # literal against the same string column compares as text —
            # an equality on it would prune the directory that holds
            # the matching row.  Same text-form-divergence stance as
            # the bucket guard above; legacy string-sourced tables
            # still read safely because _partition_can_match never
            # time-prunes a string source.
            raise ValueError(
                f"partition_transforms[{name!r}]: {t[0]} source "
                f"{src!r} is {columns[src]} — days/hours transforms "
                "support date/timestamp/timestamp_ntz columns (a "
                "string source is cast by the writer's date_format, "
                "honoring embedded UTC offsets, but compares as text "
                "in predicates — the two disagree on which directory "
                "holds a row)"
            )
        if name in columns:
            raise ValueError(
                f"partition_transforms[{name!r}] collides with a data "
                "column; the transform column lives only in directory "
                "names — pick a fresh name"
            )
        if name.startswith((".", "_")):
            raise ValueError(
                f"partition_transforms[{name!r}]: names starting with "
                "'.' or '_' are hidden to the inventory walk — pick a "
                "plain name (e.g. 'day', 'bucket16')"
            )
        out[name] = t
    return out


def _transform_columns(spec: Dict[str, List]):
    """The write-side Column for each transform (layout.py builders)."""
    from .layout import bucket_by_md5, days, hours

    cols = {}
    for name, t in spec.items():
        if t[0] == "days":
            cols[name] = days(t[1])
        elif t[0] == "hours":
            cols[name] = hours(t[1])
        else:
            cols[name] = bucket_by_md5(t[1], int(t[2]))
    return cols


def _time_granule(value, kind: str, instant: bool = True) -> Optional[str]:
    """The ``days``/``hours`` directory string a literal falls in, or
    None when it cannot be derived safely (→ no pruning on it).

    ``instant=True`` (a Spark TIMESTAMP source — tz-adjusted): only a
    TZ-AWARE datetime prunes, converted to UTC (the write-side guard
    pins the formatting session to UTC).  A naive datetime or ISO
    string would be resolved by Spark's re-applied filter under the
    READER's session timezone — pruning it by UTC wall clock could
    skip the directory holding the matching rows, so those never
    prune here (the same tz-ambiguity refusal the stats pruner's
    ``_norm_stat`` applies).

    ``instant=False`` (TIMESTAMP_NTZ / DATE sources — zone-free wall
    clock): naive datetimes, dates, and ISO strings compare
    textually; a tz-aware literal against a wall-clock column is the
    ambiguous case and never prunes.  STRING sources never reach here
    at all — ``_partition_can_match`` skips them outright (the
    writer's date_format CASTS strings, honoring embedded offsets,
    while predicates compare text; new tables refuse the layout in
    ``_validate_transforms``)."""
    import datetime as _dt
    import re

    if isinstance(value, _dt.datetime):
        if instant:
            if value.tzinfo is None:
                return None
            value = value.astimezone(_dt.timezone.utc)
        elif value.tzinfo is not None:
            return None
        return value.strftime(
            "%Y-%m-%d" if kind == "days" else "%Y-%m-%d-%H"
        )
    if instant:
        return None
    if isinstance(value, _dt.date):
        return (
            value.strftime("%Y-%m-%d")
            if kind == "days"
            else value.strftime("%Y-%m-%d") + "-00"
        )
    if isinstance(value, str):
        m = re.match(r"^(\d{4}-\d{2}-\d{2})([ T](\d{2}))?", value)
        if not m:
            return None
        if kind == "days":
            return m.group(1)
        return f"{m.group(1)}-{m.group(3)}" if m.group(3) else None
    return None


def _md5_bucket(value, n: int) -> int:
    """The portable md5-60 bucket of a literal — must agree with
    layout.bucket_by_md5 (functions/hashing.py portable_hash60 of the
    value cast to string)."""
    import hashlib

    s = str(value)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % n


def _bucketable(v) -> bool:
    """Literal types whose Python str() provably matches Spark's
    CAST(col AS STRING): str, non-bool int, and date (yyyy-MM-dd).
    bool ('True' vs 'true'), float ('1e+20' vs '1.0E20'), and datetime
    reprs diverge — hashing the wrong text would skip the file that
    holds the matching rows, so those never prune."""
    import datetime as _dt

    if isinstance(v, str):
        return True
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return True
    return isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)


def _partition_can_match(
    entry: Dict[str, object],
    transforms: Dict[str, List],
    col: str,
    op: str,
    value,
    _cache=None,
    src_types: Optional[Dict[str, str]] = None,
) -> bool:
    """Directory-level envelope test, conservative like the stats one:
    False ONLY when the file's recorded partition value proves no row
    can satisfy the predicate on the transform's SOURCE column.
    ``_cache`` memoizes literal granules/buckets/eligibility across
    the file loop (same contract as :func:`_file_can_match`);
    ``src_types`` (the manifest's column→type map) decides whether a
    time source is an INSTANT (tz-adjusted) — unknown types are
    treated as instants, the stricter literal rule."""
    part = entry.get("partition") or {}
    for name, t in transforms.items():
        kind, src = t[0], t[1]
        if src != col:
            continue
        raw = part.get(name)
        if raw is None or raw == _HIVE_NULL:
            continue  # unknown / all-NULL source rows: keep
        if kind in ("days", "hours"):
            src_type = (src_types or {}).get(src)
            if src_type == "string":
                # legacy string-sourced time transform (new tables
                # refuse them in _validate_transforms): the writer's
                # date_format CAST honors embedded UTC offsets while
                # any literal rule here would compare text — no safe
                # granule exists, so string sources never time-prune
                continue
            instant = src_type not in ("timestamp_ntz", "date")
            if op == "in":
                gs = None
                if _cache is not None:
                    gs = _cache.get(("granules", kind))
                if gs is None:
                    gs = {_time_granule(v, kind, instant) for v in value}
                    if _cache is not None:
                        _cache[("granules", kind)] = gs
                if None not in gs and raw not in gs:
                    return False
                continue
            if _cache is not None and ("granule", kind) in _cache:
                g = _cache[("granule", kind)]
            else:
                g = _time_granule(value, kind, instant)
                if _cache is not None:
                    _cache[("granule", kind)] = g
            if g is None:
                continue
            if op == "=" and raw != g:
                return False
            # granule-inclusive bounds: rows strictly before/after the
            # literal can still share its granule, so <,> keep it
            if op in (">", ">=") and raw < g:
                return False
            if op in ("<", "<=") and raw > g:
                return False
        else:  # bucket
            n = int(t[2])
            try:
                b = int(raw)
            except ValueError:
                continue
            if op == "=":
                vb = None
                if _cache is not None:
                    vb = _cache.get(("bucket", n))
                if vb is None:
                    vb = (
                        _md5_bucket(value, n) if _bucketable(value)
                        else "ineligible"
                    )
                    if _cache is not None:
                        _cache[("bucket", n)] = vb
                if vb != "ineligible" and vb != b:
                    return False
            if op == "in":
                vbs = None
                if _cache is not None:
                    vbs = _cache.get(("buckets", n))
                if vbs is None:
                    # the eligibility sweep is O(k) ONCE per predicate,
                    # not once per file
                    vbs = (
                        {_md5_bucket(v, n) for v in value}
                        if all(_bucketable(v) for v in value)
                        else "ineligible"
                    )
                    if _cache is not None:
                        _cache[("buckets", n)] = vbs
                if vbs != "ineligible" and b not in vbs:
                    return False
    return True


def plan_snapshot_scan(
    info: SnapshotInfo, where: Sequence
) -> Dict[str, object]:
    """Decide which of a snapshot's files a conjunctive predicate list
    can possibly match.  ``where`` is ``[(column, op, value), ...]``
    with ops ``= < <= > >= in``.  Returns kept/skipped file entries and
    counts; a file with no stats for a referenced column is always
    kept, so the plan is safe whatever was collected at publish time.
    Type mismatches between a literal and the column's stats kind raise
    (a silent str-vs-int comparison is how wrong pruning happens), and
    so does a predicate column absent from the manifest's recorded
    schema — inside ``read_snapshot`` the re-applied Spark filter would
    catch the typo, but a standalone plan call would otherwise keep
    every file and report a clean plan with no signal."""
    for col, op, _ in where:
        if op not in _PRUNE_OPS:
            raise ValueError(
                f"plan_snapshot_scan: op {op!r} on {col!r} not in "
                f"{_PRUNE_OPS}"
            )
        if info.columns is not None and col not in info.columns:
            raise ValueError(
                f"plan_snapshot_scan: predicate column {col!r} is not in "
                f"the snapshot's schema {sorted(info.columns)}"
            )
    kept, skipped = [], []
    transforms = info.partition_transforms or {}
    # one normalization cache PER predicate, shared across the file
    # loop: a k-literal `in` list over an n-file manifest normalizes
    # k values once (plus an O(log k) bisect per file), not k*n times
    caches = [({}, {}) for _ in where]
    for entry in info.files:
        if all(
            _file_can_match(entry, c, op, v, _cache=sc)
            and (
                not transforms
                or _partition_can_match(
                    entry, transforms, c, op, v, _cache=pc,
                    src_types=info.columns,
                )
            )
            for (c, op, v), (sc, pc) in zip(where, caches)
        ):
            kept.append(entry)
        else:
            skipped.append(entry)
    return {
        "kept": kept,
        "skipped": skipped,
        "files_total": len(info.files),
        "files_kept": len(kept),
        "files_skipped": len(skipped),
    }


#: Spark simpleString base types whose parquet footers carry usable
#: envelope stats.  This MIRRORS ``_stats_kind``'s arrow-type
#: eligibility (the two speak different type vocabularies — arrow at
#: collect time, manifest simpleString here); when a kind is added
#: there, add its simpleString spellings here in the same commit.
#: float/double stay out on both sides (parquet min/max is NaN-blind).
_STATS_ELIGIBLE_TYPES = frozenset(
    (
        "tinyint", "smallint", "int", "bigint", "boolean", "string",
        "varchar", "char", "date", "timestamp", "timestamp_ntz",
    )
)


def _stats_eligible_simple(type_str: Optional[str]) -> bool:
    """Envelope eligibility of a manifest/simpleString type —
    parameterized spellings ('varchar(8)', 'char(4)') normalize to
    their base (arrow sees them all as string)."""
    if type_str is None:
        return False
    return type_str.split("(", 1)[0] in _STATS_ELIGIBLE_TYPES


def _stats_columns(
    requested: Optional[Sequence[str]],
    parent: Optional[SnapshotInfo],
    columns: Optional[Dict[str, str]],
) -> List[str]:
    """THE envelope-stats column decision for a commit's new files,
    made before any of them is written.

    An explicit ``requested`` list is used as given, after refusing a
    column absent from the new files' ``columns`` or not stats-eligible
    there (a float, say) — refused here, the write would leave a whole
    orphan prefix behind before the footer read
    (:func:`_file_column_stats`) refused it.  ``None`` inherits
    ``parent``'s set — every column ANY
    parent file entry carries stats for — and with no parent means
    none.  Rewrites (compact/optimize/delete/merge) and appends used
    to default to ``()``, silently degrading file-scoped deletes over
    the table's life: a table published with ``stats_columns=['id']``
    would lose its envelopes at the first compaction and every later
    delete would rewrite O(table).

    The inherited set keeps only columns still stats-eligible under
    both the parent's schema and the new files' ``columns``: an
    ``evolve=True`` widening like int→double leaves the old files' int
    envelopes behind while the next write would be double —
    ``_file_column_stats`` refuses float, so blindly inheriting would
    brick every later write after such an evolve."""
    if requested is not None:
        for c in requested if columns is not None else ():
            if c not in columns:
                raise ValueError(
                    f"stats_columns: {c!r} not in schema {sorted(columns)}"
                )
            if not _stats_eligible_simple(columns[c]):
                raise ValueError(
                    f"stats_columns: {c!r} has type {columns[c]} — only "
                    "int/bool/string/date/timestamp columns carry "
                    "envelope stats (float is refused: parquet min/max "
                    "is NaN-blind, see module docstring)"
                )
        return list(requested)
    if parent is None:
        return []
    cols: set = set()
    for f in parent.files:
        cols.update((f.get("stats") or {}).keys())
    for schema in (parent.columns, columns):
        if schema is not None:
            cols = {c for c in cols if _stats_eligible_simple(schema.get(c))}
    return sorted(cols)


def _inventory_entry(
    local_file: str,
    rel_prefix: str,
    rel: str,
    stats_columns: Sequence[str],
) -> Dict[str, object]:
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(local_file)
    entry: Dict[str, object] = {
        "path": f"{rel_prefix}/{rel}",
        "bytes": os.path.getsize(local_file),
        "rows": pf.metadata.num_rows,
    }
    # hive-style path segments (name=value) are the partition
    # transform's directory values — recorded per entry so the pruner
    # never touches the filesystem (Spark URL-encodes specials)
    from urllib.parse import unquote

    part = {}
    for seg in rel.replace(os.sep, "/").split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            part[k] = unquote(v)
    if part:
        entry["partition"] = part
    if stats_columns:
        entry["stats"] = _file_column_stats(pf, stats_columns)
    return entry


def _build_inventory(
    base_dir: str,
    rel_prefix: str,
    stats_columns: Sequence[str],
) -> List[Dict[str, object]]:
    """Per-file manifest entries for every parquet file under
    ``base_dir`` — a DRIVER loop, deliberately.  The walk is the one
    O(files) term a publish cannot avoid, and an executor fan-out was
    built, probed, and REMOVED: every path this seam ever sees is
    driver-local (the local-tier table dir, or the s3 tier's tempdir
    staging where Spark just wrote), so on a real multi-node cluster
    the shipped paths would be unreadable by executors, and on local
    files the probe measured the fan-out LOSING (7.9 s vs 5.3 s at
    1600 files — ~0.1 ms footer reads vs Spark job overhead;
    BENCH_SCALE snapshot_protocol A/B).  The regime where
    distribution wins — latency-bound footer GETs against a SHARED
    prefix (s3a/HDFS) — belongs to the real-cluster direct-write
    seam, where ``layout.scan_stats`` already shows the executor-side
    footer-read pattern to build it from."""
    return [
        _inventory_entry(
            f, rel_prefix, os.path.relpath(f, base_dir), stats_columns
        )
        for f in _local_parquet_files(base_dir)
    ]


def _write_data_prefix(
    df: DataFrame,
    root: SmartPath,
    rel_prefix: str,
    compression: str,
    stats_columns: Sequence[str] = (),
    client=None,
    transforms: Optional[Dict[str, List]] = None,
) -> Dict[str, object]:
    """Write ``df`` as parquet under ``root/rel_prefix`` and return the
    manifest's file inventory (root-relative paths, sizes, per-file row
    counts, optional per-column envelope stats) and total row count.
    Stats come from the footers of the files JUST written — read once
    here, carried by every descendant manifest, never recomputed.

    ``transforms`` (validated spec) adds derived directory columns and
    writes ``partitionBy`` them: the data files keep every source
    column (only the DERIVED column moves into the path), the
    inventory records each file's partition values, and the pruner
    serves directory-level skipping from the manifest alone.

    Local tier: a direct Spark write.  S3 tier: the Spark write lands
    in a local staging dir and io_utils uploads it — the sandbox has no
    s3 Hadoop connector; on a real cluster pass an ``s3a://`` root
    straight to Spark instead and executors write the prefix directly
    (the manifest/pointer protocol above this seam is identical).
    """
    part_names = []
    if transforms:
        if any(t[0] in ("days", "hours") for t in transforms.values()):
            # the directory strings are date_format under the SESSION
            # timezone, but the pruner normalizes read literals to UTC
            # — a non-UTC writer would shelve rows in directories the
            # pruner then skips (silently missing rows).  Refuse
            # rather than record a tz the reader must re-honor.
            tz = df.sparkSession.conf.get(
                "spark.sql.session.timeZone", ""
            )
            if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
                raise ValueError(
                    "publish_snapshot: days/hours partition transforms "
                    "require spark.sql.session.timeZone=UTC (found "
                    f"{tz!r}) — directory granules are formatted under "
                    "the session zone while the pruner compares read "
                    "literals in UTC; a mismatch silently prunes "
                    "directories that hold matching rows"
                )
        for name, col in _transform_columns(transforms).items():
            df = df.withColumn(name, col)
            part_names.append(name)

    def _writer(frame):
        w = frame.write.mode("errorifexists").option(
            "compression", compression
        )
        return w.partitionBy(*part_names) if part_names else w

    if root.is_s3:
        staging_root = tempfile.mkdtemp(prefix="smashed_snap_")
        # mkdtemp creates the dir, which errorifexists would refuse —
        # Spark writes a fresh child instead
        staging = os.path.join(staging_root, "data")
        try:
            _writer(df).parquet(staging)
            if not os.path.isfile(os.path.join(staging, "_SUCCESS")):
                raise RuntimeError(
                    "publish_snapshot: staging write finished without "
                    "_SUCCESS; refusing to publish"
                )
            inventory = _build_inventory(staging, rel_prefix, stats_columns)
            for f in _local_parquet_files(staging):
                rel = os.path.relpath(f, staging)
                dest = str(root / rel_prefix / rel)
                with open(f, "rb") as r:
                    with io_utils.open_file_for_write(
                        dest, "wb", client=client
                    ) as w:
                        w.write(r.read())
            rows = sum(e["rows"] for e in inventory)
            return {"files": inventory, "row_count": rows}
        finally:
            shutil.rmtree(staging_root, ignore_errors=True)

    dest = str(root / rel_prefix)
    _writer(df).parquet(dest)
    if not os.path.isfile(os.path.join(dest, "_SUCCESS")):
        raise RuntimeError(
            "publish_snapshot: data write finished without _SUCCESS; "
            "refusing to publish"
        )
    inventory = _build_inventory(dest, rel_prefix, stats_columns)
    return {
        "files": inventory,
        "row_count": sum(e["rows"] for e in inventory),
    }


def _parse_type(type_str: str):
    from pyspark.sql import types as T

    return T.StructType.fromDDL(f"`c` {type_str}")[0].dataType


def _evolve_batch(df: DataFrame, parent_cols: Dict[str, str]):
    """Evolve the table schema to admit ``df`` — the
    ``append_snapshot(evolve=True)`` matrix, built on evolve.py's
    safe-cast policy:

    * column in both, same type → unchanged;
    * parent type losslessly widens to the batch's (int→bigint, …) →
      the TABLE type widens (old files cast up at read);
    * batch type losslessly widens to the parent's → the BATCH casts
      up here, table type unchanged;
    * lossy either way → raise (silent truncation at 100 TB is
      unfindable later — same stance as align_to_schema);
    * column only in the parent → kept, batch rows get typed NULLs;
    * column only in the batch → appended to the table schema, rows in
      old files read as NULL.

    Returns ``(aligned_df, evolved_columns)``.

    The TABLE type only ever widens within evolve.py's
    ``_SAFE_WIDENINGS`` (numeric/temporal) — NOT the anything→string
    rule ``is_safe_cast`` also allows for batch-side casts: "widening"
    an int column to string would strand the old files' envelope
    stats at kind 'int', and the first ``read_snapshot(where=...)``
    with a string literal would then raise against them.  A to-string
    change is a republish, owned explicitly."""
    from .evolve import _SAFE_WIDENINGS, align_to_schema, is_safe_cast

    # name resolution is case-INSENSITIVE, matching align_to_schema and
    # Spark's default resolver (spark.sql.caseSensitive=false): a batch
    # shipping DOC_ID must evolve against doc_id, not mint a duplicate
    # column pair that every later append would then be refused over.
    # Case-DISTINCT batch columns (legal under caseSensitive=true)
    # refuse loudly — folding them would silently drop one
    lowered = [f.name.lower() for f in df.schema.fields]
    if len(set(lowered)) != len(lowered):
        dupes = sorted({n for n in lowered if lowered.count(n) > 1})
        raise ValueError(
            "append_snapshot: batch has case-distinct column pairs "
            f"{dupes} — evolution resolves names case-insensitively "
            "(Spark's default), which would silently collapse them; "
            "rename one side first"
        )
    batch = {f.name.lower(): f.dataType for f in df.schema.fields}
    target: Dict[str, str] = {}
    for name, ptype in parent_cols.items():
        hit = batch.get(name.lower())
        if hit is None:
            target[name] = ptype
            continue
        btype = hit.simpleString()
        if btype == ptype:
            target[name] = ptype
        elif (ptype, btype) in _SAFE_WIDENINGS:
            target[name] = btype
        elif is_safe_cast(hit, _parse_type(ptype)):
            target[name] = ptype
        else:
            raise ValueError(
                f"append_snapshot: column {name!r} cannot evolve "
                f"{ptype} <-> {btype}: neither direction is a lossless "
                "widening (numeric/temporal only — to-string is a type "
                "change, not a widening) — it needs a full republish "
                "with the cast owned explicitly (evolve.py "
                "align_to_schema cast='force')"
            )
    parent_lower = {n.lower() for n in parent_cols}
    for f in df.schema.fields:
        if f.name.lower() not in parent_lower:
            target[f.name] = f.dataType.simpleString()
    ddl = ", ".join(f"`{c}` {t}" for c, t in target.items())
    aligned = align_to_schema(
        df, ddl, missing="null", extra="error", cast="safe"
    )
    return aligned, target


# ---------------------------------------------------------------------------
# the write path.  Every committing verb states a _Plan (phase 1), and
# _commit_plan runs the same phases for all of them: the schema and
# layout (_resolve_layout), the data write (_write_files), the manifest
# (_build_manifest) and _commit, then the plan's lost-race policy
# ---------------------------------------------------------------------------

#: ``_Plan.carry``: every parent entry (appends, positional commits)
_CARRY_ALL = "all"


class _Plan(NamedTuple):
    """Phase 1: what a commit carries and how it treats a lost race.

    ``carry`` is ``None`` (the commit carries nothing: a publish or a
    full rewrite), ``_CARRY_ALL`` (every parent entry and the parent's
    pending delete sidecars) or a list of the parent's own entries (a
    file-scoped rewrite).  A carried commit keeps the parent's schema
    (unless ``evolve``), registry and partition layout; an uncarried
    one defines them fresh.  ``expect`` is the snapshot the verb
    planned against (``None``: whatever the head is when the commit
    starts).  ``mark`` is merged into every new file entry
    (optimize's ``clustered`` tag, which incremental optimize carries
    by).  ``on_race`` is the lost-race policy — ``"rebase"``,
    ``"append_only"`` or ``"refuse"``, see :func:`_commit`.
    ``stream`` makes the commit a streaming micro-batch, gated by
    :func:`_watermark_gate` and stamped with its watermark."""

    verb: str  # the public verb its errors name
    operation: str  # the manifest's ``operation``
    carry: Union[None, str, List[Dict[str, object]]] = None
    expect: Optional[SnapshotInfo] = None
    mark: Optional[Dict[str, object]] = None
    evolve: bool = False
    on_race: str = "refuse"
    stream: Optional["_Watermark"] = None

    @property
    def derived(self) -> bool:
        """Whether the commit derives from its parent — every commit
        but a plain publish, which defines the table fresh."""
        return self.carry is not None or self.expect is not None


class _Watermark(NamedTuple):
    """A streaming commit's exactly-once key, Delta's ``txn``: the
    checkpoint's app id and the micro-batch id, stamped into the
    manifest as ``stream_app_id``/``stream_batch_id`` and re-stated by
    every later commit (``_PROPAGATED_PROPS``).  ``takeover`` is the
    operator's assertion that the checkpoint that last wrote the table
    is dead, so this one's restarted ids may commit over it."""

    app_id: str
    batch_id: int
    takeover: bool = False


def _watermark_gate(
    verb: str, where: str, props: Dict[str, object], mark: _Watermark
) -> str:
    """THE exactly-once rule of the streaming writers, applied to the
    ``props`` of the snapshot a micro-batch lands on (``{}`` for an
    empty table).  Batch ids are per-checkpoint, so another app's
    watermark refuses — comparing ids across checkpoints would replay
    or drop data — unless ``mark.takeover``: returns ``"takeover"``.
    The same app's batch at or below the watermark is already in the
    table: ``"replay"``, skip the commit.  Anything else:
    ``"commit"``.  ``where`` names what recorded ``props``."""
    app = props.get("stream_app_id")
    if app is not None and str(app) != mark.app_id:
        if not mark.takeover:
            raise RuntimeError(
                f"{verb}: {where} was last written by stream app "
                f"{str(app)!r}, not {mark.app_id!r} — batch ids are "
                "per-checkpoint, so honoring this batch could replay or "
                "drop data.  If the old checkpoint is decommissioned, "
                "take the table over (takeover=True; on the registered "
                "sink .option('takeover', 'true'))."
            )
        return "takeover"
    last = props.get("stream_batch_id")
    if app is not None and last is not None and mark.batch_id <= int(last):
        return "replay"
    return "commit"


class _Layout(NamedTuple):
    """Phase 2's answer: the table schema, the generation registry
    (``None`` under a parent predating ``columns``), the generation
    current writes land under, the partition layout, and the
    generation the commit's own files are tagged with (older than
    ``schema_id`` after a rebase onto an evolved parent, or for
    adopted files written under an older generation)."""

    columns: Optional[Dict[str, str]]
    schemas: Optional[Dict[str, Dict[str, str]]]
    schema_id: str
    transforms: Optional[Dict[str, List]]
    file_gen: str

    @property
    def file_columns(self) -> Optional[Dict[str, str]]:
        """The schema of the commit's own files: their generation's."""
        return (self.schemas or {}).get(self.file_gen, self.columns)


def _schema_of(df: DataFrame) -> Dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _plan_parent(
    plan: _Plan, root: SmartPath, table_root: str, client=None
) -> Tuple[Optional[SnapshotInfo], bool]:
    """The snapshot this attempt commits onto, checked against the
    pointer before anything is written: the head (nothing, for a
    table's first publish) when the plan expects no parent, else the
    planned snapshot while the pointer still names it.  A moved
    pointer rebases an ``append_only`` plan onto the head, validated
    back to the PLANNED snapshot its positions were matched over (not
    merely the previous attempt's parent), and refuses every other
    planned commit: a rewrite committed over a newer commit would
    silently drop that commit's rows.

    Returns ``(parent, replayed)``.  A ``stream`` plan passes
    :func:`_watermark_gate` against that parent on every attempt —
    another delivery of the same batch may commit while this one
    writes, and a rebase must then skip, not commit it twice;
    ``replayed`` says to skip."""
    head = _pointer_version(root, client=client)
    if plan.expect is not None:
        if head == plan.expect.version:
            return plan.expect, False
        if plan.on_race == "append_only":
            return _rebase_append_only_head(
                table_root, plan.expect.version, plan.verb, client=client
            ), False
        raise RuntimeError(
            f"{plan.verb}: the table advanced v{plan.expect.version} -> "
            f"v{head} after this {plan.operation} was planned — "
            "committing would silently drop the newer commit's rows.  "
            "Re-run the operation against the current snapshot."
        )
    parent = None
    if head is not None:
        parent = resolve_snapshot(table_root, head, client=client)
    elif plan.carry is not None:
        raise FileNotFoundError(
            f"{plan.verb}: nothing published under {table_root!r} yet — "
            "the first write is a publish_snapshot (on the registered "
            "writer, mode('overwrite'))"
        )
    replayed = plan.stream is not None and _watermark_gate(
        plan.verb, f"table {table_root!r}",
        {} if parent is None else parent.properties, plan.stream,
    ) == "replay"
    return parent, replayed


def _resolve_layout(
    plan: _Plan,
    parent: Optional[SnapshotInfo],
    columns: Optional[Dict[str, str]],
    df: Optional[DataFrame],
    written: Optional[Dict[str, object]],
    transforms: Optional[Dict[str, Sequence]],
):
    """Phase 2: the schema, generation registry and partition layout
    the commit lands under.  Returns ``(df, layout)``, ``df`` evolved
    when the plan allows it.

    ``columns`` is the schema of the commit's own files (``None`` when
    it writes none, like a positional delete's sidecar).  A carried
    commit's files must match the parent's schema exactly: a table
    mixing file shapes commits fine and then LOSES data at read time
    (spark.read.parquet samples one file's schema).  ``plan.evolve``
    widens the table instead (:func:`_evolve_batch`).  Files already
    ``written`` (a rebase after the write) cannot change: they fit
    while the parent keeps the schema they were written against, or
    match a generation its registry still carries (they are tagged
    with it); anything else refuses.  ADOPTED files — pre-written or
    staged by a writer, with no ``df`` — fit only by the second rule.
    Parents predating ``columns`` skip the check and keep no registry.

    Carried commits inherit the parent's ``partition_transforms``,
    skipping the bucket source-type strictness (the table already has
    the layout; refusing would brick appends to healthy tables); an
    uncarried commit validates ``transforms`` fresh.  Adopted files
    are laid out under no spec, so a table with one refuses them; a
    rebase whose written prefix is laid out under another spec than
    the new parent's refuses: its recorded partition values would
    misprune."""
    adopted = df is None and columns is not None
    if written is not None:
        columns = written["columns"]
    if plan.carry is None:
        layout = _Layout(
            dict(columns), {"0": dict(columns)}, "0",
            _validate_transforms(dict(transforms), columns)
            if transforms is not None else None,
            "0",
        )
    else:
        parent_cols = parent.columns
        if columns is None:
            columns = parent_cols
        file_gen = None
        if parent_cols is not None and dict(parent_cols) != columns:
            fixed = adopted or written is not None
            if not fixed and plan.evolve:
                df, columns = _evolve_batch(df, dict(parent_cols))
            elif not fixed:
                extra = sorted(set(columns) - set(parent_cols))
                missing = sorted(set(parent_cols) - set(columns))
                changed = sorted(
                    c for c in set(columns) & set(parent_cols)
                    if columns[c] != parent_cols[c]
                )
                raise ValueError(
                    f"{plan.verb}: batch schema does not match the "
                    f"table's (extra={extra}, missing={missing}, "
                    f"type-changed={changed}) — an append must ship "
                    "every table column with its exact type; pass "
                    "evolve=True for add-column / lossless-widen "
                    "evolution, or republish for anything lossy"
                )
            elif adopted or written["under"] != parent_cols:
                file_gen = next(
                    (
                        g for g, cols in (parent.schemas or {}).items()
                        if dict(cols) == columns
                    ),
                    None,
                )
                if file_gen is None and adopted:
                    raise ValueError(
                        f"{plan.verb}: the written schema does not match "
                        "the table's current schema or any generation "
                        f"its registry carries (written={sorted(columns)}"
                        f", current={sorted(parent_cols)}) — evolution "
                        "is not supported on this path; use "
                        "append_snapshot(evolve=True)"
                    )
                if file_gen is None:
                    raise RuntimeError(
                        f"{plan.verb}: concurrent commit changed the "
                        "table schema during the append to "
                        f"{parent.table_root!r} — rebase refused; re-run "
                        "the append (our data prefix is an orphan; "
                        "vacuum will sweep it)"
                    )
                columns = dict(parent_cols)
        schemas, schema_id = None, "0"
        if parent_cols is not None:
            schemas = {
                k: dict(v)
                for k, v in (parent.schemas or {"0": parent_cols}).items()
            }
            if dict(columns) == dict(parent_cols):
                schema_id = parent.schema_id
            else:
                schema_id = str(max(int(k) for k in schemas) + 1)
                schemas[schema_id] = dict(columns)
        inherited = parent.partition_transforms
        layout = _Layout(
            columns, schemas, schema_id,
            _validate_transforms(
                dict(inherited), columns, strict_bucket_types=False
            ) if inherited else None,
            schema_id if file_gen is None else file_gen,
        )
    if adopted and layout.transforms:
        raise ValueError(
            f"{plan.verb}: the table has partition_transforms "
            f"({sorted(layout.transforms)}) and pre-written files are not "
            "laid out under its transform directories — append through "
            "append_snapshot, which lays the prefix out under the "
            "table's spec"
        )
    if written is not None and layout.transforms != written["transforms"]:
        raise RuntimeError(
            f"{plan.verb}: concurrent commit changed the table's "
            f"partition_transforms during the append to "
            f"{parent.table_root!r} ({written['transforms']} -> "
            f"{layout.transforms}) — the written data prefix is laid "
            "out under the old spec, so its recorded partition values "
            "would misprune under the new one; rebase refused.  Re-run "
            "the append (our data prefix is an orphan; vacuum will "
            "sweep it)."
        )
    return df, layout


def _write_files(
    plan: _Plan,
    parent: Optional[SnapshotInfo],
    layout: _Layout,
    root: SmartPath,
    version: int,
    df: Optional[DataFrame],
    staged: Optional[Tuple[str, Sequence[str]]],
    positions: Optional[Tuple[DataFrame, int]],
    compression: str,
    stats_columns: Optional[Sequence[str]],
    client=None,
) -> Dict[str, object]:
    """Phase 3: land the commit's own files in a fresh prefix — ``df``
    written as data files, or ``staged`` (a prefix stem and local
    parquet files a writer staged on the table's filesystem) renamed
    in, both with envelope stats on :func:`_stats_columns`'s choice,
    which refuses before anything lands; and ``positions`` (a frame of
    ``(path, pos)`` rows and its row count) as a positional-delete
    sidecar.  The random token keeps a retry after a crash clear of
    the orphan.  Returns the landed inventory together with the
    schema, parent schema and partition spec it landed under, which
    phase 2 checks a rebase against."""
    stem = f"v{version:08d}" if staged is None else staged[0]
    rel_prefix = f"{DATA_DIR}/{stem}-{uuid.uuid4().hex[:8]}"
    out: Dict[str, object] = {"files": [], "row_count": 0}
    own = df is not None or staged is not None
    if own:
        stats = _stats_columns(
            stats_columns, parent if plan.derived else None,
            layout.file_columns,
        )
    if df is not None:
        out = _write_data_prefix(
            df, root, rel_prefix, compression, stats_columns=stats,
            client=client, transforms=layout.transforms,
        )
    elif staged is not None:
        # same-filesystem renames, metadata-only; the footer reads are
        # _build_inventory's driver loop
        dest = str(root / rel_prefix)
        os.makedirs(dest)
        for i, path in enumerate(staged[1]):
            os.replace(path, os.path.join(dest, f"part-{i:05d}.parquet"))
        inventory = _build_inventory(dest, rel_prefix, stats)
        out = {
            "files": inventory,
            "row_count": sum(e["rows"] for e in inventory),
        }
    sidecars: List[Dict[str, object]] = []
    if positions is not None and positions[1] > 0:
        sidecars = _write_delete_sidecar(
            positions[0], root, rel_prefix, compression, positions[1],
            client=client,
        )
    return {
        **out,
        "rel_prefix": rel_prefix,
        "sidecars": sidecars,
        "columns": layout.file_columns if own else None,
        "under": None if parent is None else parent.columns,
        "transforms": layout.transforms,
    }


def _pre_written(
    verb: str,
    rel_prefix: str,
    files: Sequence[Dict[str, object]],
    columns: Dict[str, str],
) -> Dict[str, object]:
    """Phase 3's result for files a caller already landed under
    ``<table_root>/<rel_prefix>`` (``publish_files_snapshot``,
    ``append_files_snapshot``): validated, adopted as written, no
    write."""
    prefix = rel_prefix.strip("/")
    for e in files:
        if not str(e.get("path", "")).startswith(prefix + "/"):
            raise ValueError(
                f"{verb}: entry path {e.get('path')!r} is not under "
                f"rel_prefix {prefix!r}"
            )
        if e.get("rows") is None:
            raise ValueError(
                f"{verb}: entry {e.get('path')!r} lacks a 'rows' count"
            )
    return {
        "files": [dict(e) for e in files],
        "row_count": sum(int(e["rows"]) for e in files),
        "rel_prefix": prefix,
        "sidecars": [],
        "columns": dict(columns),
        "transforms": None,
    }


def _build_manifest(
    version: int,
    operation: str,
    parent: Optional[int],
    source: Optional[SnapshotInfo],
    carry: Union[None, str, List[Dict[str, object]]],
    written: Dict[str, object],
    layout: _Layout,
    properties: Dict[str, object],
    mark: Optional[Dict[str, object]] = None,
) -> Dict[str, object]:
    """Phase 4: one commit's manifest — ``carry``'s entries of
    ``source`` (as in ``_Plan.carry``) verbatim, then the ``written``
    files tagged with the layout's file generation and ``mark``, under
    ``layout``'s schema, registry and partition spec.

    Carried entries bring the source's pending delete sidecars
    (dropping them would RESURRECT the deleted rows); the commit's own
    sidecars follow, and ``row_count`` nets them out — their positions
    were matched over a delete-aware scan, so they are disjoint from
    every pending sidecar.  A prefix is the
    first-level dir under data/ (vacuum's orphan accounting uses the
    same split): a subset carry records only its entries' prefixes,
    so a prefix whose files were all rewritten drops out and vacuum
    can reclaim it once the old versions age off the chain."""
    files: List[Dict[str, object]] = []
    prefixes: List[str] = []
    rows = 0
    deletes: List[Dict[str, object]] = []
    if source is not None and carry is not None:
        deletes = [dict(d) for d in source.delete_files or ()]
        if carry == _CARRY_ALL:
            files = [dict(f) for f in source.files]
            prefixes, rows = list(source.prefixes), source.row_count
        else:
            files = [dict(f) for f in carry]
            prefixes = ["/".join(f["path"].split("/")[:2]) for f in files]
            rows = sum(int(f["rows"]) for f in files)
    for written_entry in written["files"]:
        entry = {k: v for k, v in written_entry.items() if k != "schema"}
        if layout.schemas is not None and layout.file_gen != "0":
            # entries without a "schema" key default to generation "0",
            # so only non-zero generations spend manifest bytes on it
            entry["schema"] = layout.file_gen
        files.append({**entry, **(mark or {})})
    schemas = layout.schemas
    if schemas is not None:
        referenced = {str(f.get("schema", "0")) for f in files}
        referenced.add(layout.schema_id)
        missing_gen = referenced - set(schemas)
        if missing_gen:
            raise RuntimeError(
                "publish_snapshot: carried files reference schema "
                f"generations {sorted(missing_gen)} absent from the "
                "parent's registry — manifest corruption"
            )
        schemas = {k: schemas[k] for k in sorted(referenced, key=int)}
    sidecars = list(written["sidecars"])
    manifest: Dict[str, object] = {
        "version": version,
        "spec": 2,
        "data_prefix": written["rel_prefix"],
        "prefixes": sorted(set(prefixes) | {written["rel_prefix"]}),
        "files": files,
        "row_count": (
            rows + written["row_count"]
            - sum(int(d["rows"]) for d in sidecars)
        ),
        "parent": parent,
        "operation": operation,
        "committed_at": time.time(),
        "format": "parquet",
        "properties": properties,
    }
    if layout.columns is not None:
        manifest["columns"] = dict(layout.columns)
    if deletes or sidecars:
        manifest["delete_files"] = deletes + sidecars
    if schemas is not None:
        manifest["schemas"] = schemas
        manifest["schema_id"] = layout.schema_id
    if layout.transforms:
        manifest["partition_transforms"] = layout.transforms
    return manifest


def _commit_plan(
    plan: _Plan,
    table_root: str,
    columns: Optional[Dict[str, str]],
    df: Optional[DataFrame] = None,
    compression: str = "zstd",
    stats_columns: Optional[Sequence[str]] = None,
    transforms: Optional[Dict[str, Sequence]] = None,
    properties: Optional[Dict[str, object]] = None,
    written: Optional[Dict[str, object]] = None,
    positions: Optional[Tuple[DataFrame, int]] = None,
    staged: Optional[Tuple[str, Sequence[str]]] = None,
    client=None,
) -> Optional[SnapshotInfo]:
    """Commit ``plan`` through the phases, in the crash-safe order
    (module docstring): the data write (skipped for pre-``written``
    files) precedes the manifest, the manifest the pointer.  The
    commit re-states the parent's ``_PROPAGATED_PROPS`` under
    ``properties`` and a ``stream`` plan's watermark.  A lost race
    follows ``plan.on_race``, at most ``DEFAULT_COMMIT_RETRIES``
    times: a rebase re-runs phases 1, 2 and 4 against the new parent
    and reuses the written prefix — two small JSON writes, not a data
    rewrite.  Returns ``None``, committing nothing, when phase 1 finds
    a ``stream`` plan's batch already committed."""
    root = SmartPath.parse(table_root)
    attempts_left = 0 if plan.on_race == "refuse" else DEFAULT_COMMIT_RETRIES
    if plan.stream is not None:
        properties = {
            **(properties or {}),
            "stream_app_id": plan.stream.app_id,
            "stream_batch_id": plan.stream.batch_id,
        }
    while True:
        parent, replayed = _plan_parent(plan, root, table_root, client)
        if replayed:
            return None
        df, layout = _resolve_layout(
            plan, parent, columns, df, written, transforms
        )
        head = 0 if parent is None else parent.version
        version = max(_next_version(root, client=client), head + 1)
        if written is None:
            written = _write_files(
                plan, parent, layout, root, version, df, staged,
                positions, compression, stats_columns, client,
            )
        props: Dict[str, object] = {}
        if parent is not None:
            props = {
                k: parent.properties[k]
                for k in _PROPAGATED_PROPS
                if k in parent.properties
            }
        manifest = _build_manifest(
            version, plan.operation,
            None if parent is None else parent.version,
            parent, plan.carry, written, layout,
            {**props, **(properties or {})}, plan.mark,
        )
        info = _commit(root, table_root, manifest, manifest["parent"], client)
        if info is not None:
            return info
        if attempts_left <= 0:
            raise _race_error(
                plan.verb, version, table_root,
                rebasing=plan.on_race != "refuse",
            )
        attempts_left -= 1


def publish_snapshot(
    df: DataFrame,
    table_root: str,
    operation: str = "publish",
    compression: str = "zstd",
    properties: Optional[Dict[str, object]] = None,
    stats_columns: Optional[Sequence[str]] = (),
    partition_transforms: Optional[Dict[str, Sequence]] = None,
    client=None,
) -> SnapshotInfo:
    """Publish ``df`` as the table's next snapshot (see module docstring
    for the protocol and its crash windows).  Returns the committed
    :class:`SnapshotInfo`.

    ``stats_columns`` opts chosen columns into per-file envelope stats
    (min/max/nulls from the just-written footers) that
    ``read_snapshot(where=...)`` uses for file skipping.  Opt-in, not
    automatic: at 800k files × many columns the manifest is the cost,
    and the caller knows which columns queries actually filter on.
    ``None`` means ``()`` here; the verbs that derive a commit from
    the parent (append, delete, merge, compact, optimize) inherit the
    parent's envelope-stats column set instead (:func:`_stats_columns`).

    ``partition_transforms`` (``{name: ("days"|"hours", src)`` or
    ``("bucket", src, n)}``) lays the data prefix out in Iceberg-style
    transform directories: the DERIVED column lives only in paths (the
    data files keep every source column, and snapshot readers scan
    explicit files, so it never enters the schema), each file entry
    records its partition values, and ``read_snapshot(where=...)``
    prunes on them — directory-level skipping on top of (and without
    needing) envelope stats.  A publish defines the table's layout
    fresh; commits that carry parent files (append, file-scoped
    delete and merge) INHERIT it.  Time granules are UTC BY PROTOCOL:
    the write side has refused non-UTC sessions since the feature
    shipped, so every directory this code ever formatted is UTC and
    the pruner needs no per-table timezone record.

    Order of operations IS the crash-safety argument: data prefix
    (new, random-token suffix) → manifest (immutable, versioned) →
    pointer (atomic flip).  A failure anywhere leaves the previous
    snapshot fully readable and the debris invisible + vacuumable.
    """
    return _commit_plan(
        _Plan("publish_snapshot", operation),
        table_root,
        _schema_of(df),
        df,
        compression=compression,
        stats_columns=stats_columns,
        transforms=partition_transforms,
        properties=properties,
        client=client,
    )


def append_snapshot(
    df: DataFrame,
    table_root: str,
    compression: str = "zstd",
    properties: Optional[Dict[str, object]] = None,
    stats_columns: Optional[Sequence[str]] = None,
    evolve: bool = False,
    client=None,
) -> SnapshotInfo:
    """Publish ``df`` as new rows APPENDED to the current snapshot —
    the daily-ingest operation.  Only the new rows' prefix is written;
    the manifest carries the parent's file entries (and their stats)
    verbatim, so an append costs O(new data) however large the table.
    Same crash windows as :func:`publish_snapshot`; a lost pointer
    race rebases (see :func:`_commit`).  The first write to an empty
    table must be a publish (raises FileNotFoundError otherwise, so a
    typo'd root can't silently start a new table).

    ``evolve=True`` admits a batch whose schema differs by ADDING
    columns or LOSSLESSLY widening types (see :func:`_evolve_batch`):
    the manifest records each schema generation it still references
    plus which generation every file was written under, and
    ``read_snapshot`` aligns old files to the current schema (typed
    NULLs for later-added columns, safe upcasts for widened ones) —
    daily-ingest tables gain columns without a full republish.  Lossy
    changes still refuse, evolve or not.

    ``stats_columns=None`` (default) INHERITS the parent's envelope-
    stats column set — without it, every default append adds
    envelope-less files that all later file-scoped deletes/merges
    must conservatively rewrite (``snapshot_table_stats``'s
    ``envelope_overlap_avg`` counts such files as always-touched).
    The inheritance reads the parent manifest the commit already
    resolves — NO extra manifest GET on the hot ingest path.  Pass
    ``()`` to skip stats explicitly; columns whose evolved type is no
    longer stats-eligible (e.g. widened to double) drop out of the
    inherited set."""
    return _commit_plan(
        _Plan(
            "append_snapshot", "append", carry=_CARRY_ALL, evolve=evolve,
            on_race="rebase",
        ),
        table_root,
        _schema_of(df),
        df,
        compression=compression,
        stats_columns=stats_columns,
        properties=properties,
        client=client,
    )


def publish_files_snapshot(
    table_root: str,
    rel_prefix: str,
    files: Sequence[Dict[str, object]],
    columns: Dict[str, str],
    properties: Optional[Dict[str, object]] = None,
    client=None,
) -> SnapshotInfo:
    """Publish PRE-WRITTEN parquet files as the table's next snapshot
    — the SparkSession-free :func:`publish_snapshot`.  Same entry shape and
    stances as :func:`append_files_snapshot`, but this REPLACES the
    table state (or creates the table) instead of appending; the old
    version stays readable on the chain until vacuumed, and pending
    positional deletes do not carry (the new state supersedes them).
    """
    verb = "publish_files_snapshot"
    return _commit_plan(
        _Plan(verb, "publish"),
        table_root,
        dict(columns),
        properties=properties,
        written=_pre_written(verb, rel_prefix, files, columns),
        client=client,
    )


def append_files_snapshot(
    table_root: str,
    rel_prefix: str,
    files: Sequence[Dict[str, object]],
    columns: Dict[str, str],
    properties: Optional[Dict[str, object]] = None,
    client=None,
) -> SnapshotInfo:
    """Append PRE-WRITTEN parquet files to the current snapshot — the
    SparkSession-free append for writers that already landed their
    data under the table root.

    ``files`` are manifest entries for files ALREADY on disk under
    ``<table_root>/<rel_prefix>``, in :func:`_inventory_entry`'s shape
    (root-relative ``path``, ``bytes``, ``rows``, optional ``stats``);
    ``columns`` is the written schema as ``{name: simpleString}``.
    Same commit as :func:`append_snapshot` (a lost race rebases); the
    first write to an empty table must be a publish, the schema must
    match the table's current one or a generation its registry still
    carries (evolution is refused), and tables with
    ``partition_transforms`` refuse (:func:`_resolve_layout`)."""
    verb = "append_files_snapshot"
    return _commit_plan(
        _Plan(verb, "append", carry=_CARRY_ALL, on_race="rebase"),
        table_root,
        dict(columns),
        properties=properties,
        written=_pre_written(verb, rel_prefix, files, columns),
        client=client,
    )


def _where_to_column(where: Sequence):
    """The Spark filter equivalent of a prune predicate list — applied
    to every pruned read so ``where=`` is SEMANTICALLY a filter and the
    envelope skipping is purely an optimization."""
    cond = F.lit(True)
    for col, op, value in where:
        c = F.col(col)
        if op == "=":
            term = c == F.lit(value)
        elif op == "<":
            term = c < F.lit(value)
        elif op == "<=":
            term = c <= F.lit(value)
        elif op == ">":
            term = c > F.lit(value)
        elif op == ">=":
            term = c >= F.lit(value)
        elif op == "in":
            term = c.isin(list(value))
        else:
            raise ValueError(f"unsupported prune op {op!r}")
        cond = cond & term
    return cond


def _empty_typed(
    spark: SparkSession, info: SnapshotInfo, table_root: str
) -> DataFrame:
    """An empty DataFrame carrying the snapshot's recorded schema — the
    zero-file read path (an empty publish that produced no part files,
    or a delete that removed every row).  Manifests predating the
    ``columns`` field have no recorded schema to reconstruct from, so
    those raise instead of guessing."""
    if info.columns is None:
        raise ValueError(
            f"read_snapshot: v{info.version} of {table_root!r} lists no "
            "data files and its manifest predates the 'columns' field — "
            "no schema to build an empty result from"
        )
    ddl = ", ".join(f"`{c}` {t}" for c, t in info.columns.items())
    # limit(0): an empty LocalRelation, so joins against it plan away
    return spark.createDataFrame([], schema=ddl).limit(0)


def read_snapshot(
    spark: SparkSession,
    table_root: str,
    version: Optional[int] = None,
    where: Optional[Sequence] = None,
    client=None,
    allow_driver_download: bool = False,
    as_of=None,
) -> DataFrame:
    """Scan a snapshot.  The resolved file list (not the prefix) is
    passed to the reader, so debris from a crashed write inside the
    prefix could never leak into the scan, and `_SUCCESS`/hidden files
    are excluded by construction.

    ``where=[(column, op, value), ...]`` (ops ``= < <= > >= in``,
    conjunctive) prunes files via the manifest's envelope stats BEFORE
    Spark ever sees them — at 800k files the skipped ones cost zero
    footer GETs, zero tasks — and then applies the same predicates as
    ordinary Spark filters, so the result is exactly ``filter``
    semantics whatever stats were (or weren't) collected.

    S3 tier: this sandbox has no s3 Hadoop connector, so Spark cannot
    scan ``s3://`` directly here — on a real cluster the same resolved
    paths scan as ``s3a://`` URIs.  ``allow_driver_download=True``
    copies the snapshot to a local temp dir through io_utils first
    (driver-side: tests and small tables only, and it says so).

    ``as_of`` (exclusive with ``version``) reads the table as it was
    at an instant — see :func:`resolve_snapshot`."""
    info = resolve_snapshot(
        table_root, version, client=client, as_of=as_of
    )
    return _read_entries(
        spark, table_root, info, info.files, where, client,
        allow_driver_download,
    )


def _read_entries(
    spark: SparkSession,
    table_root: str,
    info: SnapshotInfo,
    files: List[Dict[str, object]],
    where: Optional[Sequence],
    client=None,
    allow_driver_download: bool = False,
) -> DataFrame:
    """Scan ``files`` (entries of ``info``) under the ``where``
    contract: envelope-pruned first, then filtered.  With no file left
    the schema still comes from a real file, scanned under an
    always-false predicate (footer-only work); a zero-file snapshot
    (empty publish, delete-everything) has only its recorded schema."""
    if files and where is not None:
        files = plan_snapshot_scan(
            SnapshotInfo(**{**info.__dict__, "files": files}), where
        )["kept"]
    if files:
        sub = SnapshotInfo(**{**info.__dict__, "files": files})
        df = _scan_files(spark, table_root, sub, client, allow_driver_download)
    elif not info.files:
        df = _empty_typed(spark, info, table_root)
    else:
        one = SnapshotInfo(**{**info.__dict__, "files": [info.files[0]]})
        df = _scan_files(
            spark, table_root, one, client, allow_driver_download
        ).where(F.lit(False))
    return df if where is None else df.where(_where_to_column(where))


#: internal column names the position-aware scan threads through a
#: plan (dropped before the reader sees the result)
_FILE_COL = "__snap_file__"
_POS_COL = "__snap_pos__"


def _scan_files(
    spark: SparkSession,
    table_root: str,
    info: SnapshotInfo,
    client,
    allow_driver_download: bool,
    keep_positions: bool = False,
) -> DataFrame:
    """Scan a snapshot's listed files.  When the manifest carries
    ``delete_files`` (positional merge-on-read deletes), every scanned
    row is tagged with its root-relative file path + in-file row index
    (``_metadata.file_path`` / ``row_index`` — stable across file
    splits since Spark 3.5) and anti-joined against the sidecars, so
    deleted rows never reach the reader.  ``keep_positions=True``
    keeps the two tag columns (``__snap_file__``/``__snap_pos__``) on
    the result — the positional-delete WRITER's input."""
    root = SmartPath.parse(table_root)
    delete_entries = list(info.delete_files or [])
    need_meta = keep_positions or bool(delete_entries)
    if root.is_s3:
        if not allow_driver_download:
            raise NotImplementedError(
                "read_snapshot: Spark in this environment has no s3 "
                "Hadoop connector (hadoop-aws/s3a is not on the "
                "classpath), so the resolved s3:// files cannot be "
                "scanned directly.  On a real cluster read "
                "SnapshotInfo.file_paths as s3a:// URIs"
                + (
                    " — but NOT for this snapshot as-is: it carries "
                    "pending positional delete_files that a raw path "
                    "scan would ignore (deleted rows resurrect); "
                    "compact_snapshot first"
                    if delete_entries
                    else ""
                )
                + "; for tests and small tables pass "
                "allow_driver_download=True."
            )
        local_dir = tempfile.mkdtemp(prefix="smashed_snapread_")
        # the returned DataFrame reads these files LAZILY, so the dir
        # cannot be removed here; reclaim it at interpreter exit so a
        # maintenance loop over many tables doesn't fill TMPDIR
        import atexit

        atexit.register(shutil.rmtree, local_dir, ignore_errors=True)
        rels = [f["path"] for f in info.files] + [
            d["path"] for d in delete_entries
        ]
        for rel in rels:
            dest = os.path.join(local_dir, rel)
            os.makedirs(os.path.dirname(dest) or local_dir, exist_ok=True)
            src = str(root / rel)
            with io_utils.open_file_for_read(src, "rb", client=client) as r:
                with open(dest, "wb") as w:
                    w.write(r.read())
        scan_base = local_dir

        def path_of(rel_path: str) -> str:
            return os.path.join(local_dir, rel_path)
    else:
        base = info.table_root.rstrip("/")
        # the rel-path tag strips the ABSOLUTE scan base off
        # _metadata.file_path's URI; absolutize a relative table root
        # the same way Hadoop's Path qualification will
        scan_base = os.path.abspath(base)

        def path_of(rel_path: str) -> str:
            return f"{base}/{rel_path}"

    # _metadata.file_path is the file URI: "file:" + <abs path>.  The
    # root-relative tag is everything after "<uri base>/"; the
    # positional-delete writer VERIFIES the tags against the manifest
    # paths at write time, so a normalization drift fails loudly there
    # rather than silently resurrecting rows here.
    uri_base = "file:" + scan_base

    def _with_meta(df: DataFrame) -> DataFrame:
        if not need_meta:
            return df
        fp = F.col("_metadata.file_path")
        # read-side normalization guard: if THIS environment's
        # file-URI form ever differs from the writer's assumption
        # (triple-slash qualification, Windows drive paths, ...), the
        # anti-join would silently match nothing and deleted rows
        # would RESURRECT — raise per-row instead, loudly
        rel = F.when(
            fp.startswith(uri_base + "/"),
            fp.substr(F.lit(len(uri_base) + 2), F.lit(1 << 30)),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "snapshot positional-delete scan: "
                        "_metadata.file_path does not start with the "
                        f"expected base {uri_base + '/'!r} — path "
                        "normalization drifted between writer and "
                        "reader; refusing a read that would silently "
                        "skip the delete anti-join (got: "
                    ),
                    fp,
                    F.lit(")"),
                )
            )
        )
        return df.withColumn(_FILE_COL, rel).withColumn(
            _POS_COL, F.col("_metadata.row_index")
        )

    # schema-evolution read: files from older generations are scanned
    # as their own group and ALIGNED to the manifest's current schema
    # (typed NULLs for later-added columns, safe upcasts for widened
    # ones) — one mergeSchema read cannot do this (parquet merge
    # refuses same-column type changes), and a single plain read would
    # silently drop columns absent from the sampled file
    by_gen: Dict[str, List[Dict[str, object]]] = {}
    for entry in info.files:
        by_gen.setdefault(str(entry.get("schema", "0")), []).append(entry)
    homogeneous = (
        info.schemas is None
        or all(
            info.schemas.get(g) == info.columns for g in by_gen
        )
    )
    if homogeneous:
        out = _with_meta(
            spark.read.parquet(*[path_of(f["path"]) for f in info.files])
        )
    else:
        from .evolve import align_to_schema

        target_ddl = ", ".join(
            f"`{c}` {t}" for c, t in info.columns.items()
        )
        out = None
        for gen in sorted(by_gen, key=int):
            part = _with_meta(
                spark.read.parquet(
                    *[path_of(f["path"]) for f in by_gen[gen]]
                )
            )
            # the meta tag columns join the TARGET schema (typed), so
            # extra="error" keeps rejecting genuinely unexpected
            # columns exactly as it did before the positional tier
            part = align_to_schema(
                part,
                target_ddl
                + (
                    f", `{_FILE_COL}` string, `{_POS_COL}` bigint"
                    if need_meta
                    else ""
                ),
                missing="null",
                extra="error",
                cast="safe",
            )
            out = part if out is None else out.unionByName(part)
    if delete_entries:
        dels = spark.read.parquet(
            *[path_of(d["path"]) for d in delete_entries]
        ).select(
            F.col("path").alias(_FILE_COL),
            F.col("pos").alias(_POS_COL),
        )
        pending_rows = sum(
            int(d.get("rows") or 0) for d in delete_entries
        )
        pending_bytes = sum(
            int(d.get("bytes") or 0) for d in delete_entries
        )
        # sidecar rows are WIDER than scalar forget keys (a path
        # string per row), so the row cap alone could force a
        # GB-scale broadcast near the limit — gate on the manifest's
        # recorded parquet bytes too (both facts are free)
        anti = (
            F.broadcast(dels)
            if (
                pending_rows <= sizing.BROADCAST_KEYS
                and pending_bytes <= DELETE_BROADCAST_BYTES
            )
            else dels
        )
        out = out.join(anti, on=[_FILE_COL, _POS_COL], how="left_anti")
    if need_meta and not keep_positions:
        out = out.drop(_FILE_COL, _POS_COL)
    return out


def snapshot_history(
    table_root: str,
    limit: Optional[int] = None,
    client=None,
) -> List[Dict[str, object]]:
    """The published chain, newest first — the operational "what
    happened to this table" view (Delta's DESCRIBE HISTORY analog).
    One dict per version on the pointer's ancestry chain: version,
    parent, operation, committed_at, row_count, file/byte totals, the
    tags pinning it, and whether its parent was vacuumed away
    (``parent_vacuumed`` — the chain walk stops there, so older
    history is no longer listable).  ``limit`` bounds the walk (and
    its one-GET-per-version cost) for deep chains."""
    tags_by_version: Dict[int, List[str]] = {}
    for name, v in list_tags(table_root, client=client).items():
        tags_by_version.setdefault(v, []).append(name)
    out: List[Dict[str, object]] = []
    cursor: Optional[int] = None  # None = current
    while limit is None or len(out) < limit:
        try:
            info = resolve_snapshot(table_root, cursor, client=client)
        except FileNotFoundError:
            if out:
                out[-1]["parent_vacuumed"] = True
                break
            raise  # empty table: surface the no-pointer error
        out.append(
            {
                "version": info.version,
                "parent": info.parent,
                "operation": info.operation,
                "committed_at": info.committed_at,
                "row_count": info.row_count,
                "n_files": len(info.files),
                "bytes": sum(int(f["bytes"]) for f in info.files),
                "tags": sorted(tags_by_version.get(info.version, [])),
                "parent_vacuumed": False,
                **(
                    {"restored_from": info.restored_from}
                    if info.restored_from is not None
                    else {}
                ),
            }
        )
        if info.parent is None:
            break
        cursor = info.parent
    return out


TAG_DIR = "_tags"


def _tag_path(root: SmartPath, tag: str) -> str:
    if not tag or "/" in tag or tag.startswith("."):
        raise ValueError(
            f"invalid tag {tag!r}: non-empty, no '/', no leading '.'"
        )
    return str(root / TAG_DIR / f"{tag}.json")


def tag_snapshot(
    table_root: str,
    tag: str,
    version: Optional[int] = None,
    replace: bool = False,
    client=None,
) -> int:
    """Pin a snapshot version under a name — "the 2026-08 training
    set".  Tags are tiny pointer objects under ``_tags/``; a tagged
    version (and every data prefix it references) is EXEMPT from
    :func:`vacuum_snapshots`, so a pinned release stays reproducible
    whatever ``keep_last`` says.  Refuses to move an existing tag
    unless ``replace=True`` (silently retargeting a release name is
    how two training runs end up 'identical' on different data).
    Returns the pinned version."""
    if version is None:
        version = resolve_snapshot(table_root, client=client).version
    else:
        resolve_snapshot(table_root, version, client=client)  # must exist
    root = SmartPath.parse(table_root)
    path = _tag_path(root, tag)
    if not replace and io_utils.exists(path, client=client):
        existing = _read_json(path, client=client)
        raise RuntimeError(
            f"tag_snapshot: tag {tag!r} already points at "
            f"v{existing['version']} — pass replace=True to retarget"
        )
    _write_atomic(path, json.dumps({"version": int(version)}), client=client)
    return int(version)


def list_tags(table_root: str, client=None) -> Dict[str, int]:
    """All tags and the versions they pin."""
    root = SmartPath.parse(table_root)
    out: Dict[str, int] = {}
    for f in io_utils.recursively_list_files(
        str(root / TAG_DIR), client=client
    ):
        name = f.rsplit("/", 1)[-1]
        if name.endswith(".json"):
            doc = _read_json(f, client=client)
            if doc is not None:
                out[name[:-5]] = int(doc["version"])
    return out


def delete_tag(table_root: str, tag: str, client=None) -> None:
    """Unpin a tag (the version becomes vacuumable again under the
    normal keep_last rules).  Deleting a missing tag raises
    FileNotFoundError on BOTH storage tiers — s3 deletes are naturally
    idempotent, so without the explicit check a typo'd tag name would
    'succeed' in production and crash in local tests."""
    root = SmartPath.parse(table_root)
    path = _tag_path(root, tag)
    if not io_utils.exists(path, client=client):
        raise FileNotFoundError(
            f"delete_tag: no tag {tag!r} under {table_root!r} "
            f"(known: {sorted(list_tags(table_root, client=client))})"
        )
    io_utils.remove_file(path, client=client)


def resolve_tag(table_root: str, tag: str, client=None) -> SnapshotInfo:
    """Resolve the snapshot a tag pins.  Raises FileNotFoundError for
    an unknown tag (and for a tag whose version was vacuumed BEFORE
    tagging protected it — possible only if the tag was written after
    the vacuum)."""
    root = SmartPath.parse(table_root)
    doc = _read_json(_tag_path(root, tag), client=client)
    if doc is None:
        raise FileNotFoundError(
            f"resolve_tag: no tag {tag!r} under {table_root!r} "
            f"(known: {sorted(list_tags(table_root, client=client))})"
        )
    return resolve_snapshot(table_root, int(doc["version"]), client=client)


def _append_steps(
    table_root: str,
    head: SnapshotInfo,
    since_version: int,
    verb: str,
    client=None,
) -> List[SnapshotInfo]:
    """THE append-chain walk: the snapshots from ``since_version`` to
    ``head``, both included and oldest first, when every commit after
    ``since_version`` is an append — appends never touch parent files,
    so each step's increment is exactly the files it added.  A rewrite
    on the chain raises ValueError (file-level increments are invalid
    across it); so does a ``since_version`` the chain never reaches.
    A step vacuumed away raises FileNotFoundError (from the resolve).
    One manifest GET per step walked; the walk stops at the first
    rewrite."""
    chain = [head]
    while chain[-1].version > since_version and chain[-1].parent is not None:
        step = chain[-1]
        if step.operation != "append":
            raise ValueError(
                f"{verb}: the chain from v{since_version} to "
                f"v{head.version} contains non-append operations "
                f"(v{step.version}={step.operation!r}) — file-level "
                "increments are invalid across a rewrite"
            )
        chain.append(resolve_snapshot(table_root, step.parent, client=client))
    if chain[-1].version != since_version:
        raise ValueError(
            f"{verb}: v{since_version} is not an ancestor of "
            f"v{head.version} (the chain bottoms out at "
            f"v{chain[-1].version})"
        )
    return chain[::-1]


def _read_added(
    spark: SparkSession,
    table_root: str,
    since: SnapshotInfo,
    target: SnapshotInfo,
    where: Optional[Sequence],
    client=None,
    allow_driver_download: bool = False,
) -> DataFrame:
    """Scan the files ``target`` adds over ``since``, its ancestor on
    an append chain (:func:`_append_steps`)."""
    since_paths = {f["path"] for f in since.files}
    added = [f for f in target.files if f["path"] not in since_paths]
    return _read_entries(
        spark, table_root, target, added, where, client,
        allow_driver_download,
    )


def read_snapshot_changes(
    spark: SparkSession,
    table_root: str,
    since_version: int,
    version: Optional[int] = None,
    where: Optional[Sequence] = None,
    client=None,
    allow_driver_download: bool = False,
) -> DataFrame:
    """Scan only the rows ADDED after ``since_version`` (exclusive) up
    to ``version`` (default: current) — the incremental-consumer read
    (e.g. feeding only new documents into an incremental dedup index).
    ``where=`` applies the same envelope file-skipping + re-filter
    contract as :func:`read_snapshot`, over just the added files.

    Valid ONLY when every step on the chain between the two versions is
    an append (:func:`_append_steps`): a rewrite invalidates file-level
    increments, and this raises with the offending operation instead
    of silently replaying the whole table as "changes"."""
    target = resolve_snapshot(table_root, version, client=client)
    chain = _append_steps(
        table_root, target, since_version, "read_snapshot_changes",
        client=client,
    )
    return _read_added(
        spark, table_root, chain[0], target, where, client,
        allow_driver_download,
    )


def snapshot_table_stats(
    table_root: str,
    version: Optional[int] = None,
    client=None,
) -> Dict[str, object]:
    """The operational "describe table": everything a maintenance loop
    decides by, computed from the manifest alone — two GETs, zero
    Spark jobs, zero file listings.

    Returns file/row/byte totals, file-size distribution (min/avg/max
    and a small-files count under 16 MiB — the compaction trigger),
    schema-generation spread (how much of the table still reads
    through the evolution aligner), clustered fraction (how much an
    incremental optimize would skip), per-transform directory counts,
    and which columns carry envelope stats (what ``where=`` can prune
    on).

    ``envelope_overlap_avg`` (per stats column) is the DELETE/MERGE
    scoping health check: the mean number of files a point key forces
    a keyed delete/merge to touch — the mean count of files whose
    [min, max] envelope contains a point key (averaged over every
    enveloped file's own min, an O(n log n) endpoint sweep, no data
    reads) PLUS the count of files with no envelope for the column,
    which every keyed rewrite must conservatively touch.  ~1 means a
    single-key delete rewrites one file; anything >> 1 means scoping
    is degraded — by straddling envelopes (re-cluster with
    ``optimize_snapshot``; a fully hash-scattered layout reads
    ~files/2 under the endpoint sampling) or by envelope-less files
    (re-collect stats via a maintenance rewrite), and keyed
    deletes/merges trend toward an O(table) rewrite (correct, just
    not scoped).

    ``recommend_compact`` is the merge-on-read debt flag: True once
    pending positional-delete sidecars exceed ``COMPACT_DEBT_FILES``
    files or ``COMPACT_DEBT_ROW_FRACTION`` of the table's physical
    rows — the point at which paying the read-side anti-join on every
    scan costs more than one ``compact_snapshot``."""
    info = resolve_snapshot(table_root, version, client=client)
    sizes = [int(f.get("bytes") or 0) for f in info.files]
    n = len(info.files)
    gens: Dict[str, int] = {}
    clustered = 0
    stats_cols: Dict[str, int] = {}
    dir_values: Dict[str, set] = {}
    for f in info.files:
        g = str(f.get("schema", "0"))
        gens[g] = gens.get(g, 0) + 1
        if f.get("clustered"):
            clustered += 1
        for c in (f.get("stats") or {}):
            stats_cols[c] = stats_cols.get(c, 0) + 1
        for k, v in (f.get("partition") or {}).items():
            dir_values.setdefault(k, set()).add(v)
    small = sum(1 for s in sizes if s < (16 << 20))
    physical_rows = sum(int(f.get("rows") or 0) for f in info.files)
    pending_rows = sum(
        int(d.get("rows") or 0) for d in (info.delete_files or [])
    )
    overlap: Dict[str, float] = {}
    for c in stats_cols:
        # per-kind envelopes are normalized to mutually comparable
        # JSON forms at publish time (ints; ISO strings), so the
        # sweep needs no datetime parsing.  Mixed kinds across
        # generations (int vs str after a republish) skip the metric.
        ivals = []
        kinds = set()
        for f in info.files:
            st = (f.get("stats") or {}).get(c)
            if st is None or "min" not in st:
                continue
            kinds.add(st.get("kind"))
            ivals.append((st["min"], st["max"]))
        if len(kinds) != 1 or not ivals:
            continue
        import bisect

        mins = sorted(v[0] for v in ivals)
        maxes = sorted(v[1] for v in ivals)
        depth = 0
        for lo, _ in ivals:
            # files whose envelope contains this file's min:
            # count(min_i <= lo) - count(max_i < lo)
            depth += bisect.bisect_right(mins, lo) - bisect.bisect_left(
                maxes, lo
            )
        # files WITHOUT an envelope for this column (no stats
        # collected, or all-NULL) are conservatively touched by EVERY
        # keyed delete/merge — count them in, or a table whose
        # appends skipped stats would read ~1.0 ("scoped") while
        # every delete rewrites those files
        missing = n - len(ivals)
        overlap[c] = round(depth / len(ivals) + missing, 2)
    staging_files = 0
    staging_bytes = 0
    staging_dir = str(
        SmartPath.parse(table_root) / _STAGING_DIR_NAME
    )
    if not SmartPath.parse(table_root).is_s3 and os.path.isdir(
        staging_dir
    ):
        for name in os.listdir(staging_dir):
            p = os.path.join(staging_dir, name)
            try:
                if os.path.isfile(p):
                    staging_files += 1
                    staging_bytes += os.path.getsize(p)
            except OSError:
                pass  # raced a concurrent commit's rename
    return {
        "version": info.version,
        "operation": info.operation,
        "files": n,
        "rows": info.row_count,
        "bytes": sum(sizes),
        "file_bytes_min": min(sizes) if sizes else 0,
        "file_bytes_avg": (sum(sizes) // n) if n else 0,
        "file_bytes_max": max(sizes) if sizes else 0,
        "small_files_lt_16mib": small,
        "prefixes": len(info.prefixes),
        "schema_generations": {k: gens[k] for k in sorted(gens, key=int)},
        "current_schema_id": info.schema_id,
        "clustered_files": clustered,
        "unclustered_files": n - clustered,
        "partition_transforms": info.partition_transforms,
        "partition_dirs": {
            k: len(v) for k, v in sorted(dir_values.items())
        },
        "stats_columns": {
            c: stats_cols[c] for c in sorted(stats_cols)
        },
        "envelope_overlap_avg": overlap,
        # merge-on-read debt: sidecar count + rows every read is
        # anti-joining away; compact/full-optimize applies and clears
        "pending_delete_files": len(info.delete_files or []),
        "pending_delete_rows": pending_rows,
        # the maintenance-loop trigger: too many sidecar files (one
        # anti-join relation per accumulated batch) or too large a
        # deleted-row fraction of the physical rows → pay the debt
        # down with compact_snapshot / a full optimize_snapshot
        "recommend_compact": bool(
            len(info.delete_files or []) > COMPACT_DEBT_FILES
            or (
                physical_rows > 0
                and pending_rows / physical_rows
                > COMPACT_DEBT_ROW_FRACTION
            )
        ),
        # registered-writer staging debris (crashed before the
        # commit-time rename): invisible to data walks by the
        # underscore convention, swept age-guarded by
        # vacuum_snapshots(staging_ttl_s=...)
        "staging_files": staging_files,
        "staging_bytes": staging_bytes,
    }


def _remove_dir_quiet(path: str, client=None) -> None:
    """remove_directory tolerating an already-missing target — what
    makes an interrupted vacuum re-runnable (s3 deletes are naturally
    idempotent; local shutil.rmtree is not)."""
    try:
        io_utils.remove_directory(path, client=client)
    except FileNotFoundError:
        pass


def vacuum_snapshots(
    table_root: str,
    keep_last: int = 2,
    drop_unpublished: bool = False,
    dry_run: bool = False,
    staging_ttl_s: Optional[float] = 6 * 3600,
    client=None,
) -> Dict[str, object]:
    """Garbage-collect what the pointer can no longer reach.
    ``dry_run=True`` reports exactly what a real run would remove —
    same decision code, deletes suppressed — so an operator can check
    a keep_last/drop_unpublished combination against a production
    table before destroying anything (the report gains
    ``"dry_run": True``).

    "Published" means ON THE POINTER'S ANCESTRY CHAIN (current →
    parent → ...), not numerically below the pointer: a manifest from
    a publish that crashed before its flip (window 2) sits off-chain
    forever, whatever versions commit after it.  Removes (a) chain
    members older than the newest ``keep_last`` unconditionally, and
    (b) — only with ``drop_unpublished=True`` — everything
    unreferenced: off-chain manifests+prefixes (window 2 debris) AND
    manifest-less data prefixes (window 1 debris).  Both opt-in for
    the same reason: from the outside, crash debris is
    indistinguishable from a publish IN FLIGHT (a half-uploaded data
    prefix has no manifest yet either; sweeping it by default would
    let a routine vacuum destroy the upload and the publisher would
    then commit a manifest pointing at deleted objects).
    ``drop_unpublished=True`` is the caller's assertion that no
    publish is running.

    The CURRENT snapshot is never removed, whatever ``keep_last`` says.
    Idempotent under interruption: removals tolerate already-missing
    targets, and a half-removed version is simply re-removed next run.

    ``staging_ttl_s``: the registered write paths (streaming/
    datasource.py) stage each task's file under ``<root>/_staging/``
    and rename it into a data prefix at commit; a crash between the
    two leaves debris the underscore convention hides from every
    other walk (including this vacuum's orphan sweep).  Stage→rename
    spans one micro-batch, so anything older than the TTL (mtime;
    default 6 h) is swept — age-guarded precisely because a FRESH
    staged file is indistinguishable from a write in flight.  ``None``
    disables.  Local roots only (the registered writers refuse remote
    roots, so ``_staging`` never exists elsewhere).
    """
    if keep_last < 1:
        raise ValueError("vacuum_snapshots: keep_last must be >= 1")
    root = SmartPath.parse(table_root)
    current = _pointer_version(root, client=client)
    if current is None:
        raise FileNotFoundError(
            f"vacuum_snapshots: no pointer under {table_root!r}"
        )
    versions = list_snapshots(table_root, client=client)
    manifests = {
        v: _read_json(str(root / _manifest_key(v)), client=client)
        for v in versions
    }
    chain: List[int] = []
    cursor: Optional[int] = current
    while cursor is not None and cursor in manifests:
        chain.append(cursor)
        parent = manifests[cursor].get("parent")
        cursor = int(parent) if parent is not None else None
    chain.reverse()  # oldest first
    keep = set(chain[-keep_last:])
    keep.add(current)
    # tagged versions are pinned releases: exempt from keep_last AND
    # from the off-chain sweep, together with every prefix they
    # reference (the referenced_rel accounting below sees them as
    # survivors)
    tagged = set(list_tags(table_root, client=client).values())
    keep |= tagged

    def _prefixes(doc: dict) -> List[str]:
        return [str(p) for p in doc.get("prefixes") or [doc["data_prefix"]]]

    # chain members may only be dropped as a connected PREFIX (oldest
    # first, stopping at the first kept version): "published" is
    # DEFINED by pointer ancestry, so dropping a middle version would
    # disconnect every older survivor — a pinned (tagged) release
    # would become indistinguishable from crash debris.  The cost is
    # that versions between a pinned release and the keep_last window
    # linger until the pin is deleted; the alternative (rewriting
    # immutable manifests' parents) is not on the table.
    chain_droppable: set = set()
    for v in chain:  # oldest first
        if v in keep:
            break
        chain_droppable.add(v)

    # decide drops first, THEN compute what the survivors reference:
    # append chains share prefixes across versions, so dropping an old
    # version must never sweep a prefix the current snapshot still
    # lists files under
    to_drop: List[int] = []
    referenced_rel: set = set()
    for v in versions:
        doc = manifests[v]
        if doc is None:  # raced its own removal; nothing to do
            continue
        on_chain = v in chain
        drop = (on_chain and v in chain_droppable) or (
            not on_chain and drop_unpublished and v not in keep
        )
        if drop:
            to_drop.append(v)
        else:
            referenced_rel.update(_prefixes(doc))

    dropped_versions: List[int] = []
    swept_prefixes: set = set()
    for v in to_drop:
        for rel in _prefixes(manifests[v]):
            if rel not in referenced_rel and rel not in swept_prefixes:
                if not dry_run:
                    _remove_dir_quiet(str(root / rel), client=client)
                swept_prefixes.add(rel)
        if not dry_run:
            io_utils.remove_file(
                str(root / _manifest_key(v)), client=client
            )
        dropped_versions.append(v)

    # unreferenced data prefixes: crash window 1 (no manifest was ever
    # written) — but also exactly what an IN-FLIGHT publish looks like
    # before its manifest lands, so sweeping requires the same
    # no-publish-running assertion as off-chain manifests.  Listing
    # data/ finds each orphan's files; their first-level directory
    # name is the prefix to sweep.
    dropped_orphans: List[str] = []
    if drop_unpublished:
        seen_prefixes: set = set()
        for f in io_utils.recursively_list_files(
            str(root / DATA_DIR), client=client, ignore_hidden=False
        ):
            rel = SmartPath.parse(f).relative_to(root / DATA_DIR)
            top = rel.split("/", 1)[0]
            seen_prefixes.add(f"{DATA_DIR}/{top}")
        for prefix in sorted(
            seen_prefixes - referenced_rel - swept_prefixes
        ):
            if not dry_run:
                _remove_dir_quiet(str(root / prefix), client=client)
            dropped_orphans.append(prefix)

    dropped_staging: List[str] = []
    staging_dir = str(root / _STAGING_DIR_NAME)
    if (
        staging_ttl_s is not None
        and not root.is_s3
        and os.path.isdir(staging_dir)
    ):
        cutoff = time.time() - float(staging_ttl_s)
        for name in sorted(os.listdir(staging_dir)):
            p = os.path.join(staging_dir, name)
            try:
                if os.path.isfile(p) and os.path.getmtime(p) <= cutoff:
                    if not dry_run:
                        os.remove(p)
                    dropped_staging.append(f"{_STAGING_DIR_NAME}/{name}")
            except OSError:
                pass  # raced its own removal / concurrent commit rename

    report = {
        "current": current,
        "kept": sorted(keep),
        "dropped_versions": sorted(dropped_versions),
        "dropped_orphan_prefixes": dropped_orphans,
        "dropped_staging_files": dropped_staging,
    }
    if dry_run:
        report["dry_run"] = True
    return report


# ---------------------------------------------------------------------------
# Maintenance composed onto the protocol: compaction + GDPR deletions
# as snapshot publishes (never in-place) — the object-store answer to
# layout.compact_dataset / retention.apply_deletions.
# ---------------------------------------------------------------------------


def compact_snapshot(
    spark: SparkSession,
    table_root: str,
    target_file_bytes: int = 128 << 20,
    compression: str = "zstd",
    sort_within: Sequence[str] = (),
    stats_columns: Optional[Sequence[str]] = None,
    client=None,
    allow_driver_download: bool = False,
) -> SnapshotInfo:
    """Publish a compacted copy of the current snapshot as the next
    version.  Same ZERO-exchange plan as ``compact_dataset`` (the scan
    bin-packs via ``packed_scan_conf``; each task writes one
    target-sized file) but the output lands in a NEW prefix and commits
    via the pointer — crash-safe on storage with no atomic rename.
    Old files stay readable until :func:`vacuum_snapshots`.

    ``stats_columns=None`` (default) INHERITS the parent's envelope-
    stats column set, so file-scoped deletes keep pruning after
    routine maintenance; pass ``()`` to drop stats explicitly."""
    with packed_scan_conf(spark, target_file_bytes):
        info = resolve_snapshot(table_root, client=client)
        # read the PLANNED version explicitly so the rewrite and the
        # plan's expected parent agree even if the table advances
        # between these two lines (the commit then refuses)
        df = read_snapshot(
            spark,
            table_root,
            version=info.version,
            client=client,
            allow_driver_download=allow_driver_download,
        )
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        # a transformed table keeps its directory layout through
        # compaction (the bin-packed scan lists files in path order,
        # so each task covers contiguous partition dirs)
        return _commit_plan(
            _Plan("compact_snapshot", "compact", expect=info),
            table_root,
            _schema_of(df),
            df,
            compression=compression,
            stats_columns=stats_columns,
            transforms=info.partition_transforms,
            client=client,
        )


def optimize_snapshot(
    spark: SparkSession,
    table_root: str,
    cluster_by: Sequence[str],
    bits: int = 16,
    bounds=None,
    num_files: Optional[int] = None,
    keep_zorder_column: bool = False,
    incremental: bool = False,
    compression: str = "zstd",
    stats_columns: Optional[Sequence[str]] = None,
    client=None,
    allow_driver_download: bool = False,
) -> SnapshotInfo:
    """Publish a Z-order-clustered copy of the current snapshot as the
    next version — ``optimize_layout`` recast onto the snapshot
    protocol (same exact-arithmetic Morton key via ``zorder_column``,
    same ONE ``repartitionByRange`` exchange; the write lands in a NEW
    prefix and commits via the pointer).  The fitted bounds are
    PERSISTED in the manifest (``SnapshotInfo.properties
    ["zorder_bounds"]``, with ``zorder_bits``/``cluster_by``), so the
    next optimize can keep Z-keys append-stable by passing them back
    as ``bounds=`` — no side-channel caller persistence needed.

    ``incremental=True`` is the daily-maintenance tier: only files NOT
    written by a previous optimize (appends, delete-survivor rewrites)
    are read, Z-keyed under the PERSISTED bounds, and rewritten; every
    already-clustered entry (tagged ``"clustered": true`` at optimize
    time) carries into the new manifest verbatim — O(new data) however
    large the table, the same shape as ``append_snapshot``.  Requires
    a prior full optimize with the same ``cluster_by``/``bits`` (its
    persisted bounds ARE the Z-key contract; a mismatch refuses).
    Nothing to rewrite returns the current snapshot unchanged.  New
    files' Z-ranges overlap the old files' — per-file envelope
    skipping is unaffected, global clustering degrades gradually; run
    a full optimize occasionally, exactly like Delta/Iceberg OPTIMIZE.

    Tables laid out with ``partition_transforms`` cluster WITHIN their
    directories: the range partitioning keys on (transform columns...,
    Z-key) — the optimize_layout composition — so each output task
    owns one directory's contiguous Z-range instead of scattering
    every directory across every task, and the layout (which carried
    commits inherit) survives the rewrite."""
    from .layout import ZORDER_FIELD, fit_zorder_bounds, zorder_column

    pre = resolve_snapshot(table_root, client=client)
    cluster_by = list(cluster_by)
    carry_entries: Optional[List[Dict[str, object]]] = None
    if incremental:
        _refuse_pending_deletes(
            pre, "optimize_snapshot(incremental=True)", "run a FULL "
            "optimize or compact_snapshot (both apply and clear the "
            "sidecars)",
        )
        props = pre.properties
        if bounds is None:
            persisted = props.get("zorder_bounds")
            if persisted is None:
                raise ValueError(
                    "optimize_snapshot(incremental=True): no persisted "
                    "zorder_bounds on the current snapshot — run a full "
                    "optimize first (its bounds are the Z-key contract "
                    "incremental passes must keep)"
                )
            bounds = {c: tuple(v) for c, v in persisted.items()}
        if (
            list(props.get("cluster_by") or []) != cluster_by
            or int(props.get("zorder_bits") or -1) != int(bits)
        ):
            raise ValueError(
                "optimize_snapshot(incremental=True): cluster_by/bits "
                f"({cluster_by}, {bits}) differ from the persisted "
                f"({props.get('cluster_by')}, "
                f"{props.get('zorder_bits')}) — Z-keys would be "
                "incomparable across files; run a full optimize to "
                "change the clustering"
            )
        if any(f.get("rows") is None for f in pre.files):
            raise ValueError(
                "optimize_snapshot(incremental=True): spec-1 file "
                "entries without row counts cannot be carried — run a "
                "full optimize"
            )
        carry_entries = [f for f in pre.files if f.get("clustered")]
        to_rewrite = [f for f in pre.files if not f.get("clustered")]
        if not to_rewrite:
            return pre
        scan_info = SnapshotInfo(
            **{**pre.__dict__, "files": to_rewrite}
        )
        df = _scan_files(
            spark, table_root, scan_info, client, allow_driver_download
        )
    else:
        df = read_snapshot(
            spark,
            table_root,
            version=pre.version,
            client=client,
            allow_driver_download=allow_driver_download,
        )
    if ZORDER_FIELD in df.columns:
        raise ValueError(
            f"optimize_snapshot: snapshot already has a {ZORDER_FIELD!r} "
            "column (a previous keep_zorder_column=True publish?) — "
            "drop it first; silently overwriting a data column is how "
            "columns get lost"
        )
    if bounds is None:
        bounds = fit_zorder_bounds(df, cluster_by)
    out = df.withColumn(
        ZORDER_FIELD, zorder_column(df, cluster_by, bounds, bits)
    )
    # transformed tables cluster within their directories: range keys
    # = (derived transform columns..., Z-key), so each task owns one
    # directory's contiguous Z-range.  The derived columns are dropped
    # before publish — _write_data_prefix re-derives identical values
    # for partitionBy (pure functions of the data), and a projection
    # never reorders rows, so the physical order survives.
    part_keys = []
    if pre.partition_transforms:
        for name, col in _transform_columns(
            dict(pre.partition_transforms)
        ).items():
            out = out.withColumn(name, col)
            part_keys.append(name)
    if num_files is None:
        num_files = spark.sparkContext.defaultParallelism
    range_keys = part_keys + [ZORDER_FIELD]
    out = out.repartitionByRange(
        num_files, *range_keys
    ).sortWithinPartitions(*range_keys)
    drop_cols = part_keys + ([] if keep_zorder_column else [ZORDER_FIELD])
    if drop_cols:
        out = out.drop(*drop_cols)
    return _commit_plan(
        _Plan(
            "optimize_snapshot", "optimize", carry=carry_entries,
            expect=pre, mark={"clustered": True},
        ),
        table_root,
        _schema_of(out),
        out,
        compression=compression,
        stats_columns=stats_columns,
        transforms=pre.partition_transforms,
        properties={
            "zorder_bounds": {c: list(bounds[c]) for c in cluster_by},
            "zorder_bits": int(bits),
            "cluster_by": cluster_by,
        },
        client=client,
    )


def _collected_prune_literal(spark: SparkSession, v, dtype):
    """collect() renders a Spark TIMESTAMP (an instant) as a NAIVE
    datetime in the session timezone; the stats pruner refuses naive
    instants outright (tz-ambiguity), so internally derived prune
    literals re-attach the session zone before planning.
    TIMESTAMP_NTZ collects naive and must STAY naive — only instants
    convert.

    Wall-clock → instant is NOT injective: a DST fall-back hour names
    two instants (re-attaching the zone could pick the wrong one and
    prune the file holding the key — a silent incomplete delete), a
    spring-forward hour names none, and Spark accepts zone spellings
    zoneinfo does not ('GMT+8').  Every such case returns the value
    UNCONVERTED: the naive instant then trips ``_norm_stat``'s refusal
    inside ``plan_snapshot_scan`` and the caller's TypeError fallback
    degrades to the full (always-correct) rewrite instead of
    mispruning or crashing."""
    import datetime as _dt

    from pyspark.sql import types as T

    if (
        isinstance(v, _dt.datetime)
        and v.tzinfo is None
        and isinstance(dtype, T.TimestampType)
    ):
        from zoneinfo import ZoneInfo

        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        try:
            zone = ZoneInfo(tz)
        except Exception:
            return v  # Spark-legal, zoneinfo-unknown spelling
        aware = v.replace(tzinfo=zone)
        if aware.utcoffset() != v.replace(tzinfo=zone, fold=1).utcoffset():
            # PEP 495: BOTH the ambiguous (fall-back repeat) and the
            # imaginary (spring-forward gap) hours are exactly the
            # wall times whose fold-0/fold-1 offsets differ
            return v
        return aware
    return v


_DELETE_DIR = "_deletes"


def _write_delete_sidecar(
    positions: DataFrame,
    root: SmartPath,
    rel_prefix: str,
    compression: str,
    n_rows: int,
    client=None,
) -> List[Dict[str, object]]:
    """Write a positional-delete sidecar (slim ``path``/``pos`` rows)
    under ``<prefix>/_deletes/`` — the underscore keeps it invisible
    to the data-file inventory walk while the prefix itself rides the
    manifest's ``prefixes`` list, so vacuum protects it exactly like
    data.  Returns manifest entries (root-relative path, rows, bytes)
    read from the just-written footers.

    The write is SHARDED by ``n_rows`` (one file per
    ``SIDECAR_ROWS_PER_FILE`` positions, via coalesce — no shuffle):
    small forget lists still land as one file, but a corpus-wide sweep
    fans out across tasks instead of serializing through one.  The
    read side and the manifest already speak LISTS of delete entries,
    so shard count is invisible above this function."""
    import pyarrow.parquet as pq

    target_rel = f"{rel_prefix}/{_DELETE_DIR}"

    def _entries(base_dir: str) -> List[Dict[str, object]]:
        out = []
        for cur, _dirs, names in os.walk(base_dir):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                p = os.path.join(cur, n)
                rel = os.path.relpath(p, base_dir)
                out.append(
                    {
                        "path": f"{target_rel}/{rel}",
                        "rows": pq.ParquetFile(p).metadata.num_rows,
                        "bytes": os.path.getsize(p),
                    }
                )
        return out

    shards = max(1, -(-int(n_rows) // SIDECAR_ROWS_PER_FILE))
    writer = positions.coalesce(shards).write.mode(
        "errorifexists"
    ).option("compression", compression)
    if root.is_s3:
        staging_root = tempfile.mkdtemp(prefix="smashed_snapdel_")
        staging = os.path.join(staging_root, "d")
        try:
            writer.parquet(staging)
            entries = _entries(staging)
            for e in entries:
                local = os.path.join(
                    staging, os.path.relpath(e["path"], target_rel)
                )
                with open(local, "rb") as r:
                    with io_utils.open_file_for_write(
                        str(root / e["path"]), "wb", client=client
                    ) as w:
                        w.write(r.read())
            return entries
        finally:
            shutil.rmtree(staging_root, ignore_errors=True)
    dest = str(root / target_rel)
    writer.parquet(dest)
    return _entries(dest)


def _rebase_append_only_head(
    table_root: str,
    planned_version: int,
    verb: str,
    client=None,
) -> SnapshotInfo:
    """Re-resolve the head after a lost commit race and validate that
    rebasing onto it is SAFE for a positional delete: every commit
    between the planned parent and the head must be a pure append
    (:func:`_append_steps`).  Appends only add files (parent entries
    carried verbatim), so the sidecar's (file, position) pairs still
    point at exactly the rows they were computed over; any rewrite
    (compact/optimize/delete/merge/restore/publish) can move or drop
    those rows and refuses.  Returns the validated head snapshot, with
    a belt-and-braces check that the planned parent's file paths all
    survive in it."""
    head = resolve_snapshot(table_root, client=client)
    try:
        planned = _append_steps(
            table_root, head, planned_version, verb, client=client
        )[0]
    except (ValueError, FileNotFoundError) as e:
        raise RuntimeError(
            f"{e}.  A concurrent commit landed after this positional "
            f"delete was planned on v{planned_version}, and a rewrite "
            "can move or drop the rows the sidecar's (file, position) "
            "pairs point at, so the rebase is refused.  Re-run against "
            "the current snapshot (the written sidecar prefix is an "
            "orphan; vacuum will sweep it)."
        ) from e
    lost = {f["path"] for f in planned.files} - {
        f["path"] for f in head.files
    }
    if lost:
        raise RuntimeError(
            f"{verb}: append-only chain v{planned_version} -> "
            f"v{head.version} dropped file entries (e.g. "
            f"{sorted(lost)[:3]}) — manifest corruption; rebase "
            "refused."
        )
    return head


# ---------------------------------------------------------------------------
# the keyed-rewrite plan: a forget-list delete is a merge with no
# inserts, so both verbs run these same steps — refuse over pending
# sidecars, probe the key set, scope the files, pick the join side,
# then match positions (merge-on-read) or rewrite (copy-on-write)
# ---------------------------------------------------------------------------


def _refuse_pending_deletes(info: SnapshotInfo, verb: str, hint: str):
    """A partial rewrite carries untouched entries verbatim, but their
    pending positional ``delete_files`` would then need per-file
    delete accounting — refuse, naming the verb's way out."""
    if info.delete_files:
        raise RuntimeError(
            f"{verb}: the table has pending positional delete_files — "
            "a partial rewrite under them would need per-file delete "
            f"accounting; {hint}"
        )


class _KeyProbe(NamedTuple):
    df: Optional[DataFrame]  # the key column; None for a literal list
    head: Optional[list]  # every key, when the whole set is on the driver
    n: Optional[int]  # exact key count, when known
    prune: list  # envelope predicates on the key column


def _probe_keys(
    spark: SparkSession,
    keys: Union[DataFrame, list],
    key_field: str,
    cap: int,
    null_error: str,
) -> _KeyProbe:
    """Validate a key set and turn it into file-prune predicates.

    A key frame runs a capped ``limit(cap+1).collect()`` head first.
    When the head comes back complete it serves everything at once:
    the NULL refusal, literal ``in`` pruning, and the exact key count.
    An over-cap frame instead spends one Spark NULL scan and one
    min/max agg (range pruning — two scalars, never a big collect).
    A literal list is already on the driver and costs no job; over the
    cap it prunes by its own min/max too, since ``in`` planning costs
    O(keys) to normalize."""
    if not isinstance(keys, DataFrame):
        if any(k is None for k in keys):
            raise ValueError(null_error)
        if len(keys) <= cap:
            prune = [(key_field, "in", keys)]
        else:
            lo, hi = min(keys), max(keys)
            prune = [(key_field, ">=", lo), (key_field, "<=", hi)]
        return _KeyProbe(None, keys, len(keys), prune)
    kt = keys.schema[key_field].dataType
    head = [r[0] for r in keys.limit(cap + 1).collect()]
    if len(head) <= cap:
        if any(k is None for k in head):
            raise ValueError(null_error)
        lits = [_collected_prune_literal(spark, k, kt) for k in head]
        return _KeyProbe(keys, head, len(head), [(key_field, "in", lits)])
    if keys.filter(F.col(key_field).isNull()).limit(1).count() > 0:
        raise ValueError(null_error)
    lo, hi = keys.agg(F.min(key_field), F.max(key_field)).collect()[0]
    if lo is None:  # emptied between the jobs: a nondeterministic frame
        return _KeyProbe(keys, [], 0, [(key_field, "in", [])])
    return _KeyProbe(keys, None, None, [
        (key_field, ">=", _collected_prune_literal(spark, lo, kt)),
        (key_field, "<=", _collected_prune_literal(spark, hi, kt)),
    ])


def _scope_files(info: SnapshotInfo, prune: list):
    """Split the snapshot's files by the manifest's envelope stats into
    ``(touched, untouched)``: the files a prune predicate CAN match,
    and the ones carried verbatim."""
    # spec-1 manifests lack per-entry row counts, so untouched entries
    # cannot be carried (the descendant's row_count would be a guess)
    if all(f.get("rows") is not None for f in info.files):
        try:
            plan = plan_snapshot_scan(info, prune)
            return plan["kept"], plan["skipped"]
        except TypeError:
            # a literal the pruner refuses to compare (e.g. a naive
            # datetime key against instant envelope stats): the verb's
            # SEMANTICS never depended on pruning — degrade to the full
            # rewrite instead of failing a call that would have worked
            # before stats existed
            pass
    return list(info.files), []


def _match_positions(matched: DataFrame, touched: list, verb: str):
    """Pin the (file, row-position) pairs of ``matched`` — a
    ``keep_positions=True`` scan of ``touched`` joined to the keys —
    and return ``(positions, n)``.  One aggregate over the checkpoint
    serves both the row count and the tag-normalization guard: every
    tagged path must be a manifest path, or the READ side's anti-join
    would silently miss (resurrected rows) — fail here, loudly."""
    positions = matched.select(
        F.col(_FILE_COL).alias("path"),
        F.col(_POS_COL).cast("bigint").alias("pos"),
    ).localCheckpoint(eager=True)
    per_path = positions.groupBy("path").count().collect()
    known = {f["path"] for f in touched}
    alien = [r["path"] for r in per_path if r["path"] not in known]
    if alien:
        raise RuntimeError(
            f"{verb}: positional tags do not match manifest paths (e.g. "
            f"{alien[:3]}) — the file-path normalization drifted; "
            "refusing to write a sidecar reads would silently ignore"
        )
    return positions, sum(r["count"] for r in per_path)


def apply_deletions_snapshot(
    spark: SparkSession,
    table_root: str,
    keys: Union[DataFrame, Sequence],
    key_field: str,
    scope_where: Optional[Sequence] = None,
    prune_collect_cap: int = DEFAULT_PRUNE_COLLECT_KEYS,
    compression: str = "zstd",
    stats_columns: Optional[Sequence[str]] = None,
    client=None,
    allow_driver_download: bool = False,
    positional: bool = False,
) -> SnapshotInfo:
    """Publish a copy of the current snapshot without any row whose
    ``key_field`` appears in ``keys`` — the GDPR/forget-list rewrite as
    a snapshot publish (the object-store analog of
    ``retention.apply_deletions``).

    **File-scoped, not O(table)**: the manifest's per-file envelope
    stats decide which files CAN contain a forget key (literal ``in``
    pruning when the key set fits ``prune_collect_cap``; min/max range
    pruning above that — a bounded two-scalar agg, never a driver
    collect of the key set).  Only those files are read, anti-joined,
    and rewritten; every untouched file entry is carried VERBATIM into
    the new manifest (stats included), so a 1,000-key forget list on a
    100 TB table rewrites the few files whose envelopes straddle the
    keys, not the table.  Files with no stats for ``key_field`` are
    conservatively rewritten — publish with
    ``stats_columns=[key_field]`` to keep future deletes scoped.

    **Clustering contract**: envelope pruning only scopes if the table
    is CLUSTERED by ``key_field`` (``optimize_snapshot`` /
    ``repartitionByRange`` at publish) — on a hash- or
    arrival-ordered layout every file's [min, max] straddles the key
    space and the delete silently degrades to an O(table) rewrite
    (correct, just not scoped; BENCH_SCALE ``snapshot_unclustered_
    delete`` measures it).  ``snapshot_table_stats``'s
    ``envelope_overlap_avg`` is the health check: ~1 scopes, anything
    >> 1 does not.  When pruning proves NO file can match, or the
    forget DataFrame is empty, the current :class:`SnapshotInfo` is
    returned unchanged (no empty-delete version is committed).

    ``scope_where`` (``[(column, op, value), ...]``, same grammar as
    ``read_snapshot(where=)``) restricts the delete to rows ALSO
    matching the scope — the partition-scoped delete: a key is only
    forgotten inside the scope, rows outside survive even if their key
    matches, and the scope predicates join the file-prune plan so an
    out-of-scope file isn't even read.

    The forget keys join broadcast at ``core.sizing.BROADCAST_KEYS``
    keys or fewer (a known count costs no job; otherwise one bounded
    count decides), plain above.  NULL forget keys raise — NULL never
    equals anything in a join, so a NULL "deletion" would silently
    delete nothing.

    ``stats_columns=None`` (default) INHERITS the parent's envelope-
    stats column set for the rewritten files, so the NEXT delete still
    prunes; pass ``()`` to drop stats explicitly.

    ``positional=True`` is the MERGE-ON-READ tier — the answer for
    tables NOT clustered by the delete key, where envelope pruning
    degrades the rewrite to O(table) (the BENCH_SCALE
    ``snapshot_unclustered_delete`` probe): instead of rewriting the
    touched files, the matching rows' (file, row-position) pairs are
    written as a slim SIDECAR (Iceberg positional-delete shape, built
    on ``_metadata.row_index``) and every read anti-joins them away —
    the delete costs O(deleted rows), whatever the layout.  Reads pay
    one (usually broadcast) anti-join until a ``compact_snapshot`` /
    full ``optimize_snapshot`` applies and clears the sidecars.
    Positional deletes STACK (each is computed over a delete-aware
    scan, so counts stay exact); partial-carry rewrites (rewrite-mode
    delete, merge, incremental optimize) refuse while sidecars are
    pending — compact first.  Appends carry sidecars verbatim, and a
    write-time path check makes a tag-normalization drift fail loudly
    instead of silently resurrecting rows."""
    verb = "apply_deletions_snapshot"
    info = resolve_snapshot(table_root, client=client)
    if not positional:
        _refuse_pending_deletes(
            info, verb, "run compact_snapshot to apply them first, or "
            "pass positional=True to stack another positional delete",
        )
    if info.columns is not None and key_field not in info.columns:
        raise ValueError(
            f"{verb}: key_field {key_field!r} not in snapshot columns "
            f"{sorted(info.columns)}"
        )
    if isinstance(keys, DataFrame):
        if key_field not in keys.columns:
            raise ValueError(
                f"{verb}: key_field {key_field!r} not in keys columns "
                f"{keys.columns}"
            )
        keys = keys.select(key_field)
    else:
        keys = list(keys)
        if not keys:
            raise ValueError(
                f"{verb}: empty forget list — refusing a no-op publish "
                "(pass a non-empty key set)"
            )
    probe = _probe_keys(
        spark, keys, key_field, prune_collect_cap,
        f"{verb}: NULL forget key — NULL never joins, so it would "
        "silently delete nothing",
    )
    touched, untouched = _scope_files(
        info, list(scope_where or []) + probe.prune
    )
    if not touched or probe.n == 0:
        # an empty key frame, or envelopes that prove no file holds a
        # forget-key row: nothing to rewrite, and an empty delete
        # version would be noise
        return info

    df = _scan_files(
        spark, table_root,
        SnapshotInfo(**{**info.__dict__, "files": touched}), client,
        allow_driver_download, keep_positions=positional,
    )
    if key_field not in df.columns:
        raise ValueError(
            f"{verb}: key_field {key_field!r} not in snapshot columns "
            f"{df.columns}"
        )
    key_df, n_keys = probe.df, probe.n
    if key_df is None:
        key_df = spark.createDataFrame(
            [(k,) for k in probe.head], schema=df.select(key_field).schema
        )
    cap = sizing.BROADCAST_KEYS
    if scope_where:
        # the marker join below must not fan out an out-of-scope
        # surviving row once per duplicate forget key.  Dedup only
        # shrinks, so a known size over the cap is probed again.
        key_df = key_df.distinct()
        if n_keys is not None and n_keys > cap:
            n_keys = None
    small = sizing.fits(key_df, cap) if n_keys is None else n_keys <= cap
    side = F.broadcast(key_df) if small else key_df

    def keyed(how: str) -> DataFrame:
        # "left_semi": the rows the delete forgets; "left_anti": the rest
        if not scope_where:
            return df.join(side, on=key_field, how=how)
        # scoped delete: a row dies only when its key matches AND it is
        # PROVABLY inside the scope — LEFT ANTI can't express the
        # conjunction, so mark key matches with a left join and filter.
        # Both sides of the conjunction coalesce to False: under SQL
        # three-valued logic a NULL scope column (e.g. an old-generation
        # row predating an evolved column) would make the whole
        # predicate NULL and WHERE would DROP the row — deleting
        # out-of-scope data, the exact blast radius scope_where bounds
        dies = F.coalesce(F.col("__forget__"), F.lit(False)) & F.coalesce(
            _where_to_column(scope_where), F.lit(False)
        )
        marker = side.withColumn("__forget__", F.lit(True))
        return (
            df.join(marker, on=key_field, how="left")
            .where(dies if how == "left_semi" else ~dies)
            .select(*df.columns)
        )

    if positional:
        positions = _match_positions(keyed("left_semi"), touched, verb)
        if positions[1] == 0:
            return info
        return _commit_plan(
            _Plan(
                verb, "delete", carry=_CARRY_ALL, expect=info,
                on_race="append_only",
            ),
            table_root,
            None,
            compression=compression,
            positions=positions,
            client=client,
        )
    out = keyed("left_anti")
    return _commit_plan(
        _Plan(verb, "delete", carry=untouched, expect=info),
        table_root,
        _schema_of(out),
        out,
        compression=compression,
        stats_columns=stats_columns,
        client=client,
    )


def merge_snapshot(
    spark: SparkSession,
    table_root: str,
    batch: DataFrame,
    key_field: str,
    prune_collect_cap: int = DEFAULT_PRUNE_COLLECT_KEYS,
    compression: str = "zstd",
    stats_columns: Optional[Sequence[str]] = None,
    client=None,
    allow_driver_download: bool = False,
    positional: bool = False,
) -> SnapshotInfo:
    """Keyed MERGE (upsert): publish the next snapshot in which every
    table row whose ``key_field`` matches a batch row is REPLACED by
    that batch row, every unmatched batch row is INSERTED, and every
    other row survives untouched — the daily re-crawl ingest verb
    ("replace the doc by id") and the last of the Delta/Iceberg
    maintenance verbs on this protocol (Delta's ``MERGE WHEN MATCHED
    THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``).

    **File-scoped like the delete, not O(table)**: the manifest's
    per-file envelope stats prune to the files whose key ranges CAN
    overlap the batch (literal ``in`` under ``prune_collect_cap``,
    min/max range above it); only those are read, anti-joined against
    the batch keys, and rewritten together with the batch — every
    untouched file entry is carried VERBATIM.  On a table clustered
    by the key (``optimize_snapshot``), a day's re-crawl touches the
    few files its ids straddle, not 100 TB.  Files without key stats
    are conservatively rewritten.

    Refusals (each silent alternative loses data):

    * batch schema must match the table's exactly (same columns,
      value-preserving casts only) — evolution during a merge would
      entangle two risky operations; run ``append_snapshot(evolve=
      True)`` or a republish first;
    * NULL batch keys (NULL never joins — the "update" would insert a
      ghost);
    * duplicate batch keys (which copy wins is ambiguous — dedupe
      upstream where the ordering rule lives);
    * an EMPTY batch (a no-op 'merge' version would still break
      ``read_snapshot_changes`` for every consumer reading across it);
    * a concurrent commit between planning and publish (the plan's
      expected parent, ``_Plan.expect``: a merge rebased onto a parent
      that changed underneath would silently drop the concurrent
      commit's rows from the survivors — appends rebase, rewrites
      refuse).

    ``stats_columns=None`` (default) inherits the parent's envelope-
    stats column set, so later merges/deletes keep pruning.

    The batch is localCheckpoint-pinned before anything reads it: the
    NULL/dup checks, the prune-key collect, and the final write must
    see the SAME rows (a nondeterministic batch re-evaluated between
    prune and write could plant a duplicate key in a carried file).
    Size batches accordingly — this verb is for bounded re-crawl
    batches, not unbounded backfills (republish for those).

    ``positional=True`` is the MERGE-ON-READ upsert tier — the answer
    for tables NOT clustered by ``key_field``, where envelope pruning
    degrades the copy-on-write rewrite to O(table) exactly as it did
    for deletes before the positional tier: instead of rewriting the
    touched files, the MATCHED rows' (file, row-position) pairs land
    as a positional-delete SIDECAR and the whole batch appends as new
    files — ONE commit, O(batch) whatever the layout, zero data files
    rewritten.  Reads pay the same anti-join the positional delete
    costs until compact/full-optimize clears the sidecars; positional
    merges STACK on pending sidecars (the match scan is delete-aware,
    so counts stay exact) and interleave freely with positional
    deletes.  Result values are identical to the copy-on-write merge
    — only the physical strategy differs."""
    verb = "merge_snapshot"
    info = resolve_snapshot(table_root, client=client)
    if not positional:
        _refuse_pending_deletes(
            info, verb, "run compact_snapshot to apply them first, or "
            "pass positional=True to stack a merge-on-read upsert",
        )
    if info.columns is not None and key_field not in info.columns:
        raise ValueError(
            f"{verb}: key_field {key_field!r} not in snapshot columns "
            f"{sorted(info.columns)}"
        )
    if key_field not in batch.columns:
        raise ValueError(
            f"{verb}: key_field {key_field!r} not in batch columns "
            f"{batch.columns}"
        )
    if info.columns is not None:
        from .evolve import align_to_schema

        ddl = ", ".join(
            f"`{c}` {t}" for c, t in info.columns.items()
        )
        # exact column set, value-preserving casts, table column order
        batch = align_to_schema(
            batch, ddl, missing="error", extra="error", cast="safe"
        )
    # PIN the batch: the NULL/dup checks, the prune-key collect, and
    # the final write must all see the SAME rows — a nondeterministic
    # batch plan (limit without order, sampling, now()) re-evaluated
    # between the prune and the write could prove a file
    # non-overlapping and then insert a row whose key lives in it
    # (duplicate keys, the exact contract this verb exists to keep).
    # localCheckpoint, not persist: eviction would re-evaluate.
    batch = batch.localCheckpoint(eager=True)

    probe = _probe_keys(
        spark, batch.select(key_field), key_field, prune_collect_cap,
        f"{verb}: NULL batch key — NULL never joins, so the row would "
        "neither update nor match reads; fix the batch",
    )
    if probe.n == 0:
        raise ValueError(
            f"{verb}: empty batch — refusing a no-op publish (a spurious "
            "'merge' version would also break read_snapshot_changes for "
            "every consumer reading across it)"
        )
    if probe.head is None:
        # over-cap batch: one bounded Spark job
        dup = bool(
            batch.groupBy(key_field).count()
            .filter(F.col("count") > 1).limit(1).collect()
        )
    else:
        try:
            dup = len(set(probe.head)) != len(probe.head)
        except TypeError:
            # unhashable collected form (binary keys -> bytearray):
            # one bounded Spark job instead
            dup = probe.df.distinct().count() != len(probe.head)
    if dup:
        raise ValueError(
            f"{verb}: duplicate batch keys — which copy wins is "
            "ambiguous; dedupe the batch upstream where the ordering "
            "rule lives (e.g. keep the newest crawl)"
        )

    touched, untouched = _scope_files(info, probe.prune)
    # with nothing touched, no file's key range overlaps the batch: a
    # pure insert, every parent file carried verbatim (still a merge
    # commit — the batch lands)
    positions, out = None, batch
    if touched:
        # a complete head probe knows the key count (no job);
        # otherwise one bounded count decides
        n, cap = probe.n, sizing.BROADCAST_KEYS
        small = sizing.fits(probe.df, cap) if n is None else n <= cap
        side = F.broadcast(probe.df) if small else probe.df
        existing = _scan_files(
            spark, table_root,
            SnapshotInfo(**{**info.__dict__, "files": touched}), client,
            allow_driver_download, keep_positions=positional,
        )
        if positional:
            positions = _match_positions(
                existing.join(side, on=key_field, how="left_semi"),
                touched, verb,
            )
        else:
            survivors = existing.join(side, on=key_field, how="left_anti")
            out = survivors.unionByName(batch)
    # the positional tier appends the whole batch and sidecars the
    # matched rows; copy-on-write rewrites the touched files
    return _commit_plan(
        _Plan(
            verb, "merge", carry=_CARRY_ALL if positional else untouched,
            expect=info,
        ),
        table_root,
        _schema_of(out),
        out,
        compression=compression,
        stats_columns=stats_columns,
        positions=positions,
        client=client,
    )


def restore_snapshot(
    table_root: str,
    version: Optional[int] = None,
    as_of=None,
    client=None,
) -> SnapshotInfo:
    """Roll the table back (or forward along the chain) to a previous
    state as a NEW commit — Delta's RESTORE.  Metadata-only: zero data
    reads or writes; the new manifest carries the target version's
    file inventory, schema registry, and layout verbatim, and the
    pointer flip is the commit.  History is PRESERVED — the bad
    versions stay readable behind the new head until vacuumed, and
    ``snapshot_history`` shows the restore as its own step (its
    manifest records ``restored_from``).

    The target resolves by ``version=`` (chain-verified — off-chain
    rebase debris refuses) or ``as_of=`` an instant ("put the table
    back the way it was before Tuesday's bad ingest").  Restoring to
    the current version refuses (a no-op commit is noise).

    Two properties deliberately do NOT come from the target:

    * the streaming watermark (``stream_app_id``/``stream_batch_id``)
      stays the CURRENT head's — restoring old data must not restore
      an old watermark, or the stream's next redelivered micro-batch
      would double-append;
    * nothing else: Z-order bounds DO come from the target (they
      describe the restored files' actual clustering).

    **Deletion caveat**: restoring past an ``apply_deletions_snapshot``
    commit RESURRECTS the forgotten rows — a GDPR forget-list must be
    re-applied after any restore that jumps it.  Same single-writer
    contract as every rewrite: a concurrent commit between planning
    and publish refuses loudly."""
    root = SmartPath.parse(table_root)
    current = resolve_snapshot(table_root, client=client)
    target = resolve_snapshot(
        table_root,
        version=version,
        as_of=as_of,
        verify_chain=version is not None,
        client=client,
    )
    if target.version == current.version:
        raise ValueError(
            f"restore_snapshot: v{target.version} is already the "
            f"current head of {table_root!r} — nothing to restore"
        )
    props = dict(target.properties)
    # exactly-once: the watermark tracks the CHECKPOINT, not the data
    for k in ("stream_app_id", "stream_batch_id"):
        props.pop(k, None)
        if k in current.properties:
            props[k] = current.properties[k]
    new_version = max(
        _next_version(root, client=client), current.version + 1
    )
    # everything comes from the RESOLVED target info (which normalizes
    # spec-1 targets to the spec-2 root-relative convention) — no
    # second manifest GET.  data_prefix was built as str(root / rel)
    # at resolve time; strip the root back off for the manifest field.
    # Pending positional deletes of the target stay pending — their
    # sidecar prefixes are in target.prefixes.
    nothing_written = {
        "rel_prefix": target.data_prefix[len(str(root)):].lstrip("/"),
        "files": [], "row_count": 0, "sidecars": [],
    }
    layout = _Layout(
        target.columns, target.schemas, target.schema_id,
        target.partition_transforms, target.schema_id,
    )
    manifest = _build_manifest(
        new_version, "restore", current.version, target, _CARRY_ALL,
        nothing_written, layout, props,
    )
    manifest["restored_from"] = target.version
    info = _commit(root, table_root, manifest, current.version, client)
    if info is None:
        raise _race_error(
            "restore_snapshot", new_version, table_root, rebasing=False
        )
    return info


__all__ = [
    "SnapshotInfo",
    "publish_snapshot",
    "append_snapshot",
    "merge_snapshot",
    "restore_snapshot",
    "read_snapshot",
    "read_snapshot_changes",
    "plan_snapshot_scan",
    "tag_snapshot",
    "list_tags",
    "delete_tag",
    "resolve_tag",
    "snapshot_history",
    "snapshot_table_stats",
    "resolve_snapshot",
    "list_snapshots",
    "vacuum_snapshots",
    "compact_snapshot",
    "optimize_snapshot",
    "apply_deletions_snapshot",
]
