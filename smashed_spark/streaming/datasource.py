"""A registered Structured-Streaming/batch DATA SOURCE AND SINK for
governed snapshot tables — ``spark.readStream.format(
"smashed_snapshot")`` / ``spark.read.format("smashed_snapshot")`` /
``df.writeStream.format("smashed_snapshot")`` — built on PySpark 4's
Python DataSource API (``pyspark.sql.datasource``).

Beyond-reference surface (the reference — ``src/smashed/mappers`` —
has no table or streaming notion).  Consumers of the snapshot protocol
of ``sources/snapshot.py`` come in two shapes:

* the driver-side drain of ``sources/change_feed.py`` —
  ``snapshot_change_feed`` polls it once, ``read_snapshot_stream``
  (streaming/snapshot_source.py) loops it — with its OWN offset,
  at-least-once, every scan a JVM parquet read; use it when
  throughput dominates;
* THIS module — the idiomatic ``readStream`` shape: Spark's own
  offset log owns progress (``checkpointLocation``), replay after a
  crash re-plans the exact same version range from the immutable
  manifests, and the rows flow as Arrow batches out of
  executor-parallel per-file partitions.  Use it when you want a
  real streaming DataFrame (joins, watermarks, any sink Spark
  supports) rather than a ``process`` callback.

Delivery contract (stream)
--------------------------
* OFFSETS are snapshot versions: ``{"version": N}`` means "rows
  through manifest vN delivered".  ``initial="full"`` starts at the
  sentinel ``{"version": -1}`` so the first micro-batch is the whole
  snapshot at attach time (positional-delete sidecars applied);
  ``initial="latest"`` starts at the attach-time head and delivers
  only subsequent appends.
* ``partitions(start, end)`` is DETERMINISTIC: manifests are
  immutable, so a crash between offset-log write and sink commit
  replays byte-identical batches — with an idempotent/transactional
  sink this is exactly-once, one step stronger than the drain's
  at-least-once callback.
* A REWRITE on the chain (compact/optimize/delete/merge/restore —
  anything but append) invalidates file-level increments:
  ``onRewrite="raise"`` (default) fails the query loudly;
  ``"full_resync"`` delivers the ENTIRE snapshot at the batch's end
  version and moves on — for row-idempotent consumers.  The same
  policy covers an offset vacuumed off the chain.
* ``maxVersionsPerBatch`` bounds how many append commits one
  micro-batch may span, so a consumer resuming into a deep backlog
  drains it in pieces.  Best-effort: the first batch after a
  (re)start is planned before the reader has seen the checkpointed
  offset and is not bounded.

Delivery contract (sink)
------------------------
``df.writeStream.format("smashed_snapshot").option("path", root)``
appends each micro-batch as ONE snapshot version through the snapshot
commit path, so replays skip and a foreign app's table refuses unless
``takeover`` by the one watermark gate the foreachBatch tier uses
(streaming/snapshot_sink.py).  ``_StagingWriter`` has the two-phase
(stage → commit) shape both registered writers share.

Why the read side is self-contained
-----------------------------------
Spark runs Python data-source hooks in separate worker processes
(``pyspark/sql/worker/*.py``): ``schema()``/``partitions()`` in a
planner worker on the driver node, ``read()`` in executor workers.
Those processes import this class from a cloudpickle payload and may
not have the repo on ``sys.path``, and there is no SparkSession in
any of them.  Everything reachable from the hooks therefore uses
only stdlib + pyarrow + numpy: a light read-only mirror of the
manifest spec lives here (``_light_resolve``, and ``_chain_versions``
for the append-chain walk of ``snapshot._append_steps``), pinned
against ``sources/snapshot.py``'s reader by a parity unit test
(tests/test_snapshot_datasource.py), and ``register_snapshot_source``
registers the module for pickle-by-value so even a bare worker can
deserialize it.

LOCAL table roots only: executor workers have no boto client wiring,
so an ``s3://`` root is refused at construction with a pointer to
``read_snapshot_stream(client=...)`` (driver loop) — on a real
cluster with s3a on the classpath, the JVM tiers are the right
consumers for object-store tables anyway.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Dict, Iterable, Iterator, List, Optional, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

__all__ = ["SnapshotDataSource", "register_snapshot_source"]

# mirror of sources/snapshot.py MANIFEST_DIR / POINTER_NAME — pinned
# by the parity test; a rename there must land here in the same commit
_MANIFEST_DIR = "_manifests"
_POINTER_NAME = "_latest.json"

_BOOTSTRAP_VERSION = -1


# --------------------------------------------------------------------
# light manifest mirror (stdlib-only, local filesystem)
# --------------------------------------------------------------------


@dataclass
class _LightSnapshot:
    """The slice of a manifest the source needs: version chain, file
    lists, pending delete sidecars, and the recorded schema."""

    version: int
    parent: Optional[int]
    operation: str
    files: List[Dict[str, object]]
    delete_files: List[Dict[str, object]]
    columns: Optional[Dict[str, str]]


def _refuse_remote(table_root: str) -> str:
    if "://" in table_root:
        raise NotImplementedError(
            "smashed_snapshot data source: remote table roots "
            f"({table_root!r}) are not supported — the Python "
            "data-source workers have no object-store client wiring.  "
            "Use read_snapshot_stream(client=...) (driver loop) or "
            "read_snapshot / read_snapshot_changes on a cluster with "
            "the s3a connector."
        )
    return table_root.rstrip("/")


def _light_read_manifest(table_root: str, version: int) -> _LightSnapshot:
    path = os.path.join(
        table_root, _MANIFEST_DIR, f"v{version:08d}.json"
    )
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"smashed_snapshot: no manifest for v{version} under "
            f"{table_root!r} (vacuumed, or never committed)"
        )
    with open(path, "r") as f:
        doc = json.load(f)
    files = [dict(e) for e in doc["files"]]
    if doc.get("prefixes") is None:
        # spec-1 manifest: paths relative to the single data prefix
        own = str(doc["data_prefix"])
        for e in files:
            e["path"] = f"{own}/{e['path']}"
    return _LightSnapshot(
        version=int(doc["version"]),
        parent=doc.get("parent"),
        operation=str(doc.get("operation", "publish")),
        files=files,
        delete_files=[dict(d) for d in (doc.get("delete_files") or [])],
        columns=(dict(doc["columns"]) if "columns" in doc else None),
    )


def _light_head_version(table_root: str) -> int:
    pointer = os.path.join(table_root, _POINTER_NAME)
    if not os.path.exists(pointer):
        raise FileNotFoundError(
            f"smashed_snapshot: no pointer at {pointer!r} — nothing "
            "has been published to this table root"
        )
    with open(pointer, "r") as f:
        return int(json.load(f)["version"])


def _light_resolve(
    table_root: str, version: Optional[int] = None
) -> _LightSnapshot:
    if version is None:
        version = _light_head_version(table_root)
    return _light_read_manifest(table_root, version)


def _chain_versions(
    table_root: str, head: _LightSnapshot, since_version: int
) -> Optional[List[_LightSnapshot]]:
    """The snapshots on the chain head → exclusive ``since_version``,
    oldest first — or None when a step is not an append / the chain
    bottoms out or is vacuumed before reaching ``since_version``
    (all of which invalidate file-level increments)."""
    steps: List[_LightSnapshot] = []
    cursor = head
    while cursor.version != since_version:
        if cursor.operation != "append":
            return None
        steps.append(cursor)
        if cursor.parent is None:
            return None
        try:
            cursor = _light_read_manifest(table_root, cursor.parent)
        except FileNotFoundError:
            return None
    return list(reversed(steps))


# --------------------------------------------------------------------
# partitions + the executor-side read
# --------------------------------------------------------------------


@dataclass
class _SnapFilePartition(InputPartition):
    """One data file of the planned batch.  ``rel_path`` is the
    table-root-relative path the positional-delete sidecars key on;
    ``sidecar_paths`` is empty for append increments (a pending
    sidecar can only reference files that predate the increment —
    committing one is itself a non-append step).  ``version`` is the
    snapshot version whose commit delivered this file (the append
    step for increments; the batch's end version for bootstrap /
    full_resync state reads) — surfaced per row by the
    ``versionColumn`` option."""

    abs_path: str
    rel_path: str
    sidecar_paths: Tuple[str, ...] = ()
    version: Optional[int] = None


def _deleted_positions(
    sidecar_paths: Sequence[str], rel_path: str
):
    """The sorted in-file row indices the pending sidecars delete from
    ``rel_path`` — row-group statistics on the dictionary-encoded
    ``path`` column keep the filtered reads cheap."""
    import pyarrow.dataset as pa_ds

    positions: List[int] = []
    for sidecar in sidecar_paths:
        tbl = pa_ds.dataset(sidecar, format="parquet").to_table(
            columns=["pos"],
            filter=pa_ds.field("path") == rel_path,
        )
        positions.extend(tbl.column("pos").to_pylist())
    return positions


def _read_file_partition(
    part: _SnapFilePartition,
    target_schema: StructType,
    version_col: Optional[str] = None,
) -> Iterator["pa.RecordBatch"]:  # noqa: F821
    """Read one data file as Arrow batches in the QUERY's schema:
    align by name (case-insensitive fallback, matching the evolve
    module's resolution), add typed nulls for columns the file
    predates, safe-cast widened generations up — pyarrow refuses a
    narrowing cast, which is exactly the widen-only evolution
    contract — and mask out positionally-deleted rows.
    ``version_col`` names a schema field filled with the partition's
    delivering snapshot version instead of file data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(target_schema)
    table = pq.read_table(part.abs_path)
    if part.sidecar_paths:
        positions = _deleted_positions(part.sidecar_paths, part.rel_path)
        if positions:
            import numpy as np

            mask = np.ones(table.num_rows, dtype=bool)
            mask[np.asarray(positions, dtype=np.int64)] = False
            table = table.filter(pa.array(mask))
    lower = {n.lower(): n for n in table.column_names}
    arrays = []
    for fld in pa_schema:
        if version_col is not None and fld.name == version_col:
            arrays.append(
                pa.array(
                    [part.version] * table.num_rows, type=fld.type
                )
            )
            continue
        name = (
            fld.name
            if fld.name in table.column_names
            else lower.get(fld.name.lower())
        )
        if name is None:
            arrays.append(pa.nulls(table.num_rows, type=fld.type))
        else:
            col = table.column(name)
            if col.type != fld.type:
                col = col.cast(fld.type)
            arrays.append(col.combine_chunks())
    aligned = pa.Table.from_arrays(arrays, schema=pa_schema)
    for batch in aligned.to_batches():
        if batch.num_rows:
            yield batch


def _full_state_partitions(
    table_root: str, snap: _LightSnapshot
) -> List[_SnapFilePartition]:
    sidecars = tuple(
        os.path.join(table_root, d["path"]) for d in snap.delete_files
    )
    return [
        _SnapFilePartition(
            abs_path=os.path.join(table_root, f["path"]),
            rel_path=str(f["path"]),
            sidecar_paths=sidecars,
            version=snap.version,
        )
        for f in snap.files
    ]


# --------------------------------------------------------------------
# streaming reader
# --------------------------------------------------------------------


class _SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: Dict[str, str]):
        self._schema = schema
        self._root = _refuse_remote(options["path"])
        self._initial = options.get("initial", "full")
        if self._initial not in ("full", "latest"):
            raise ValueError(
                f"smashed_snapshot: initial={self._initial!r} — pass "
                "'full' (deliver existing rows first) or 'latest'"
            )
        self._on_rewrite = options.get("onrewrite", "raise")
        if self._on_rewrite not in ("raise", "full_resync"):
            raise ValueError(
                f"smashed_snapshot: onRewrite={self._on_rewrite!r} — "
                "pass 'raise' or 'full_resync'"
            )
        # CDC metadata: name a bigint schema field to fill with the
        # delivering snapshot version per row (the append step for
        # increments; the state version for bootstrap/full_resync)
        self._version_col = options.get("versioncolumn")
        mvpb = options.get("maxversionsperbatch")
        self._max_versions = int(mvpb) if mvpb is not None else None
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError(
                "smashed_snapshot: maxVersionsPerBatch must be >= 1"
            )
        # the newest version any planned batch covered — the throttle
        # floor.  None until the first partitions() call of this run,
        # so the first batch after a (re)start is unbounded.
        self._floor: Optional[int] = None

    def initialOffset(self) -> dict:
        if self._initial == "latest":
            return {"version": _light_head_version(self._root)}
        return {"version": _BOOTSTRAP_VERSION}

    def latestOffset(self) -> dict:
        head = _light_head_version(self._root)
        if (
            self._max_versions is None
            or self._floor is None
            or self._floor == _BOOTSTRAP_VERSION
            or head <= self._floor
        ):
            return {"version": head}
        try:
            chain = _chain_versions(
                self._root,
                _light_read_manifest(self._root, head),
                self._floor,
            )
        except FileNotFoundError:
            chain = None
        if chain is None:
            # rewrite on the chain — don't throttle; partitions()
            # applies the policy for the full range
            return {"version": head}
        bounded = chain[: self._max_versions]
        return {"version": bounded[-1].version if bounded else head}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        since, upto = int(start["version"]), int(end["version"])
        self._floor = max(self._floor or upto, upto)
        if since == upto:
            return []
        target = _light_read_manifest(self._root, upto)
        if since == _BOOTSTRAP_VERSION:
            return _full_state_partitions(self._root, target)
        chain = _chain_versions(self._root, target, since)
        if chain is None:
            if self._on_rewrite == "raise":
                raise ValueError(
                    "smashed_snapshot: the chain from "
                    f"v{since} to v{upto} contains a rewrite "
                    "(compact/optimize/delete/merge/restore) or the "
                    "committed offset was vacuumed off it — "
                    "file-level increments are invalid; restart with "
                    ".option('onRewrite', 'full_resync') if the "
                    "consumer is row-idempotent, or rebuild it from "
                    "a batch read"
                )
            return _full_state_partitions(self._root, target)
        seen = {
            f["path"]
            for f in _light_read_manifest(self._root, since).files
        }
        parts: List[_SnapFilePartition] = []
        for step in chain:
            for f in step.files:
                rel = str(f["path"])
                if rel not in seen:
                    seen.add(rel)
                    parts.append(
                        _SnapFilePartition(
                            abs_path=os.path.join(self._root, rel),
                            rel_path=rel,
                            version=step.version,
                        )
                    )
        return parts

    def read(
        self, partition: InputPartition
    ) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        return _read_file_partition(
            partition, self._schema, self._version_col
        )

    def commit(self, end: dict) -> None:
        # progress lives in Spark's offset log; nothing to clean
        pass


# --------------------------------------------------------------------
# batch reader (+ optional envelope filter pushdown)
# --------------------------------------------------------------------

_FILTER_OPS = (
    (EqualTo, "="),
    (GreaterThan, ">"),
    (GreaterThanOrEqual, ">="),
    (LessThan, "<"),
    (LessThanOrEqual, "<="),
    (In, "in"),
)


class _SnapshotBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options: Dict[str, str]):
        self._schema = schema
        self._root = _refuse_remote(options["path"])
        v = options.get("version")
        self._version = int(v) if v is not None else None
        self._version_col = options.get("versioncolumn")
        self._where: List[Tuple[str, str, object]] = []

    def partitions(self) -> Sequence[InputPartition]:
        snap = _light_resolve(self._root, self._version)
        parts = _full_state_partitions(self._root, snap)
        if self._where:
            parts = self._prune(snap, parts)
        return parts

    def _prune(
        self, snap: _LightSnapshot, parts: List[_SnapFilePartition]
    ) -> List[_SnapFilePartition]:
        """Envelope file-skipping via the full resolver's planner —
        import-gated: pruning is an optimization, so a worker without
        the repo on its path (or a predicate the planner refuses,
        e.g. a type mismatch it deliberately raises on) falls back to
        scanning every file; Spark re-applies the filters either way.
        """
        try:
            from ..sources.snapshot import (
                plan_snapshot_scan,
                resolve_snapshot,
            )

            info = resolve_snapshot(self._root, snap.version)
            kept = {
                str(f["path"])
                for f in plan_snapshot_scan(info, self._where)["kept"]
            }
        except Exception:
            return parts
        return [p for p in parts if p.rel_path in kept]

    def read(
        self, partition: InputPartition
    ) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        return _read_file_partition(
            partition, self._schema, self._version_col
        )


class _SnapshotBatchReaderPushdown(_SnapshotBatchReader):
    """Enabled by ``.option("filterPushdown", "true")`` — split out
    because Spark REFUSES a reader that implements ``pushFilters``
    while ``spark.sql.python.filterPushdown.enabled`` is off, and the
    plain read must keep working with stock confs."""

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for flt in filters:
            for cls, op in _FILTER_OPS:
                if (
                    type(flt) is cls
                    and len(flt.attribute) == 1
                ):
                    value = (
                        list(flt.value) if op == "in" else flt.value
                    )
                    self._where.append(
                        (flt.attribute[0], op, value)
                    )
                    break
        # report EVERY filter unsupported: the envelope skip is file
        # pruning off min/max stats, not an exact evaluation — Spark
        # re-applies the predicates, the skip + re-filter contract of
        # read_snapshot(where=)
        return filters


# --------------------------------------------------------------------
# streaming sink (writeStream.format("smashed_snapshot"))
# --------------------------------------------------------------------

_STAGING_DIR = "_staging"


@dataclass
class _StagedFile(WriterCommitMessage):
    staged_path: str
    rows: int


def _stage_arrow(root, compression, iterator):
    """Executor-side half of the two-phase write: stream the task's
    Arrow batches into ONE unique parquet file under
    ``<root>/_staging/`` (underscore: invisible to the data-file
    inventory walk).  Returns the commit message, or None for an
    empty task.  stdlib + pyarrow only."""
    import uuid

    import pyarrow.parquet as pq

    staging = os.path.join(root, _STAGING_DIR)
    os.makedirs(staging, exist_ok=True)
    path = os.path.join(staging, f"stream-{uuid.uuid4().hex}.parquet")
    writer = None
    rows = 0
    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                writer = pq.ParquetWriter(
                    path, batch.schema, compression=compression
                )
            writer.write_batch(batch)
            rows += batch.num_rows
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return None
    return _StagedFile(staged_path=path, rows=rows)


def _discard_staged(messages) -> None:
    for m in messages:
        if m is not None:
            try:
                os.remove(m.staged_path)
            except OSError:
                pass


class _StagingWriter:
    """The two-phase shape both registered writers share: ``write``
    tasks stream their Arrow batches into UNIQUE files under
    ``<root>/_staging/`` (:func:`_stage_arrow`; stats stay off the hot
    path), and the driver-side commit hands them to the snapshot
    commit, whose data phase renames them (same filesystem,
    metadata-only) into one fresh ``data/`` prefix and footer-reads
    them for manifest entries.  Staged files the commit did not take —
    a skipped replay, a refusal — are discarded; a crash before the
    commit leaves only ``_staging`` debris, which ``abort`` sweeps.
    ``commit``/``abort`` run on the driver node and import the protocol
    module, so the package must be importable there; ``write`` stays
    stdlib + pyarrow."""

    def __init__(self, schema: StructType, options: Dict[str, str]):
        self._root = _refuse_remote(options["path"])
        self._compression = options.get("compression", "zstd")
        self._columns = {
            f.name: f.dataType.simpleString() for f in schema.fields
        }

    def write(self, iterator):
        return _stage_arrow(self._root, self._compression, iterator)

    def _commit_staged(self, plan, stem: str, messages, stats_columns=None):
        from ..sources.snapshot import _commit_plan

        paths = [m.staged_path for m in messages if m is not None]
        try:
            _commit_plan(
                plan, self._root, self._columns,
                stats_columns=stats_columns, staged=(stem, paths),
            )
        finally:
            _discard_staged(messages)

    def abort(self, messages, batchId: Optional[int] = None) -> None:
        _discard_staged(messages)


class _SnapshotStreamWriter(_StagingWriter, DataSourceStreamArrowWriter):
    """Exactly-once append sink: each micro-batch commits as ONE
    append into a fresh ``data/stream-<batch>-*`` prefix, stamped with
    the ``stream_app_id``/``stream_batch_id`` watermark, and the
    commit's watermark gate decides replay and foreign-app exactly as
    for the foreachBatch tier.  Append-only: the table must already
    have a published snapshot (publish first, or use
    ``snapshot_batch_writer``, which creates on the first batch), and
    the written schema must match the table's current schema or a
    registered generation."""

    def __init__(self, schema: StructType, options: Dict[str, str]):
        super().__init__(schema, options)
        self._app_id = str(options.get("appid", "smashed_snapshot_sink"))
        self._takeover = options.get("takeover", "false").lower() in (
            "true",
            "1",
        )

    def commit(self, messages, batchId: int) -> None:
        from ..sources import snapshot as snap

        if not any(m is not None for m in messages):
            return
        mark = snap._Watermark(self._app_id, int(batchId), self._takeover)
        self._commit_staged(
            snap._Plan(
                "smashed_snapshot sink", "append", carry=snap._CARRY_ALL,
                on_race="rebase", stream=mark,
            ),
            f"stream-{batchId:08d}",
            messages,
        )


class _SnapshotBatchWriter(_StagingWriter, DataSourceArrowWriter):
    """``df.write.format("smashed_snapshot")`` — the batch half of
    the same two-phase shape: ``mode("append")`` lands the staged
    files as one append commit (table must exist; envelope-stats
    columns inherited, or pass ``statsColumns``, refused before the
    rename when the files cannot serve them); ``mode("overwrite")``
    publishes them as the table's next full state (creating the table
    if absent) — the old version stays on the chain for time travel
    until vacuumed.  For heavy batch writes prefer
    ``publish_snapshot``/``append_snapshot`` (JVM parquet write +
    executor-side stats); this path exists so a registered-format user
    never has to leave the format."""

    def __init__(
        self,
        schema: StructType,
        options: Dict[str, str],
        overwrite: bool,
    ):
        super().__init__(schema, options)
        self._overwrite = overwrite
        sc = options.get("statscolumns")
        self._stats_option = (
            [c.strip() for c in sc.split(",") if c.strip()]
            if sc is not None
            else None
        )

    def commit(self, messages) -> None:
        from ..sources import snapshot as snap

        verb = "smashed_snapshot writer"
        if self._overwrite:
            plan = snap._Plan(verb, "publish")
        elif any(m is not None for m in messages):
            plan = snap._Plan(
                verb, "append", carry=snap._CARRY_ALL, on_race="rebase"
            )
        else:
            return  # appending nothing is a no-op
        self._commit_staged(
            plan, "overwrite" if self._overwrite else "append", messages,
            self._stats_option,
        )


# --------------------------------------------------------------------
# the data source + registration
# --------------------------------------------------------------------


class SnapshotDataSource(DataSource):
    """``format("smashed_snapshot")`` — module docstring has the full
    contract.  Options: ``path`` (local table root; also the load()
    positional arg), batch ``version`` (time travel) and
    ``filterPushdown``; stream ``initial``, ``onRewrite``,
    ``maxVersionsPerBatch``."""

    def __init__(self, options: Dict[str, str]):
        super().__init__(options)
        if "path" not in options:
            raise ValueError(
                "smashed_snapshot: pass the table root as "
                ".load(<path>) or .option('path', <path>)"
            )

    @classmethod
    def name(cls) -> str:
        return "smashed_snapshot"

    def schema(self) -> str:
        root = _refuse_remote(self.options["path"])
        v = self.options.get("version")
        snap = _light_resolve(root, int(v) if v is not None else None)
        if snap.columns is None:
            raise ValueError(
                f"smashed_snapshot: v{snap.version} of {root!r} "
                "predates the manifest 'columns' field — no recorded "
                "schema; pass .schema(...) explicitly"
            )
        ddl = ", ".join(
            f"`{c}` {t}" for c, t in snap.columns.items()
        )
        vcol = self.options.get("versioncolumn")
        if vcol is not None:
            if vcol in snap.columns:
                raise ValueError(
                    f"smashed_snapshot: versionColumn {vcol!r} "
                    "collides with a table column — pick another name"
                )
            ddl += f", `{vcol}` bigint"
        return ddl

    def reader(self, schema: StructType) -> DataSourceReader:
        pushdown = self.options.get(
            "filterpushdown", "false"
        ).lower() in ("true", "1")
        cls = (
            _SnapshotBatchReaderPushdown
            if pushdown
            else _SnapshotBatchReader
        )
        return cls(schema, self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _SnapshotStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return _SnapshotBatchWriter(schema, self.options, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DataSourceStreamWriter:
        if overwrite:
            raise ValueError(
                "smashed_snapshot sink: outputMode complete/overwrite "
                "is not supported — the sink appends one snapshot "
                "version per micro-batch; use outputMode('append')"
            )
        return _SnapshotStreamWriter(schema, self.options)


def register_snapshot_source(spark) -> None:
    """Register the format with a session:
    ``register_snapshot_source(spark)`` then
    ``spark.read.format("smashed_snapshot").load(root)``.

    Also registers THIS module for cloudpickle-by-value so the
    planner/executor workers can deserialize the classes even when
    the repo is not on their ``sys.path`` (the module is
    self-contained precisely so by-value serialization closes over
    nothing else)."""
    try:
        import sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        # older cloudpickle without by-value registration: fall back
        # to by-reference, which works whenever the package is
        # importable by the workers (installed, addPyFile'd, or
        # local-mode with the repo on PYTHONPATH)
        pass
    spark.dataSource.register(SnapshotDataSource)
