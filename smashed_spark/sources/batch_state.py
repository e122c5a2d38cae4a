"""The staged-swap state protocol shared by every on-disk store.

The reference keeps no state on disk.  Four stores here do, and all of
them replace a directory in place through the functions below:

* the in-place rewrites :func:`~.layout.compact_dataset` and
  :func:`~.retention.apply_deletions` (:func:`swap_in` directly);
* the ``batch=N``-partitioned cross-batch state of the streaming
  ingest indexes (streaming/ingest.py) and of the incremental rollups
  (functions/rollup.py): :func:`read_batches` and :func:`fold_batches`.

**The swap.**  :func:`swap_in` writes the replacement into a staging
directory outside the target, refuses unless the write left Spark's
``_SUCCESS`` marker, removes the target and renames staging into
place.  A crash during the staging write leaves the target intact and
an incomplete staging dir, which the next swap removes.  A crash
between the remove and the rename leaves no target and a complete
staging dir: :func:`recover_swap` finishes the rename, and every store
runs it before it reads or rewrites.

**The batch state.**  A store keeps one ``root/batch=N`` partition per
micro-batch (a retried batch overwrites its own) and one folded
``root/batch=-1``.  :func:`fold_batches` merges partitions into
``batch=-1`` through a staging dir named ``__compact_<root name>__``
beside ``root``, and writes ``_folded.json`` (the batch ids the merge
absorbed) inside it, so data and manifest publish in the same rename.
Readers drop every listed partition, so no crash window counts a row
twice, which matters to rollup sums:

* crash before the rename — as for the swap;
* crash after the rename, before the folded partitions are removed —
  the manifest lists them, reads exclude them, and the next fold
  deletes them without merging them again;
* crash after they are removed, before the manifest is emptied — the
  listed ids have no partition; the next fold empties it.

Once the folded partitions are gone the manifest is rewritten empty,
so a batch id that a new checkpoint reuses (after a fold with
``include_latest=True``) is neither hidden from reads nor deleted as a
leftover.  A ``batch=-1`` without ``_folded.json`` reads as an empty
manifest.

Listing, rename and removal use local-filesystem paths.  A non-local
path reads as "no manifest" and recovers nothing; on object storage,
swap the ``os``/``shutil`` calls for the store's API — the ordering,
not the API, carries the safety.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_folded.json"

# target on-disk bytes per folded file: the low end of the 128 MB -
# 1 GB healthy-output-file band (index rows compress poorly)
_FOLD_TARGET_BYTES = 128 * 1024 * 1024


def recover_swap(target: str, staging: str) -> bool:
    """Finish a swap that crashed between removing ``target`` and
    renaming ``staging`` into place.  No-op unless ``target`` is
    missing and ``staging`` is complete (holds ``_SUCCESS``); a
    staging dir beside a live target is a pre-swap leftover that the
    next :func:`swap_in` removes.  Returns True when a swap was
    finished."""
    done = os.path.join(staging, "_SUCCESS")
    if not os.path.exists(target) and os.path.isfile(done):
        os.replace(staging, target)
        return True
    return False


def swap_in(target: str, staging: str, write: Callable[[str], None]) -> None:
    """Replace ``target`` with what ``write(staging)`` writes: remove
    stale staging, write, refuse unless ``staging/_SUCCESS`` exists,
    remove ``target``, rename.  The remove→rename window is what
    :func:`recover_swap` repairs, and it repairs only a staging dir
    that holds ``_SUCCESS`` — so a write without the marker must not
    be swapped in."""
    shutil.rmtree(staging, ignore_errors=True)
    write(staging)
    if not os.path.isfile(os.path.join(staging, "_SUCCESS")):
        raise RuntimeError(
            f"{staging!r} was written without _SUCCESS (is mapreduce."
            "fileoutputcommitter.marksuccessfuljobs off?); refusing to "
            f"swap it in: a crash could not recover {target!r} from it"
        )
    if os.path.exists(target):
        shutil.rmtree(target)
    os.replace(staging, target)


def dir_bytes(*roots: str) -> int:
    """Total size of the regular files under the given directories —
    a driver-side listing, no Spark job."""
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, name))
                except OSError:
                    pass
    return total


def _fold_paths(root: str) -> Tuple[str, str]:
    """``(root/batch=-1, its staging dir beside root)``."""
    root = root.rstrip("/")
    return os.path.join(root, "batch=-1"), os.path.join(
        os.path.dirname(root), f"__compact_{os.path.basename(root)}__"
    )


def _read_manifest(root: str) -> List[int]:
    path = os.path.join(root, "batch=-1", _MANIFEST)
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [int(x) for x in json.load(f)]


def _write_manifest(folded_dir: str, ids: List[int]) -> None:
    # the leading underscore hides the temp file from parquet listing
    tmp = os.path.join(folded_dir, f"{_MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(sorted(ids), f)
    os.replace(tmp, os.path.join(folded_dir, _MANIFEST))


def read_batches(
    spark: SparkSession, root: str, schema: str, infer: bool = False
) -> DataFrame:
    """The state under ``root`` with its ``batch`` column, minus the
    partitions the manifest lists as folded — after finishing an
    interrupted swap.  ``schema`` (DDL, without ``batch``) is the read
    schema, or with ``infer=True`` only the empty frame's.  Only an
    absent or empty root maps to the empty typed frame, which has no
    ``batch`` column (no partition exists); any other read failure
    (auth, listing timeout, corrupt footer) propagates: treating
    broken state as "no history" would let every duplicate through."""
    from pyspark.errors import AnalysisException

    recover_swap(*_fold_paths(root))
    try:
        reader = spark.read
        if not infer:
            reader = reader.schema(schema + ", batch int")
        df = reader.parquet(root)
    except AnalysisException as e:
        cond = str(getattr(e, "getCondition", lambda: None)() or e)
        if "PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond:
            # limit(0) plans as an empty LocalRelation (a bare empty
            # createDataFrame is an opaque LogicalRDD), so the optimizer
            # drops a first batch's dedup joins against it
            return spark.createDataFrame([], schema).limit(0)
        raise
    folded = _read_manifest(root)
    if folded:
        df = df.where(~F.col("batch").isin(folded))
    return df


def fold_batches(
    spark: SparkSession,
    root: str,
    schema: str,
    merge: Callable[[DataFrame], DataFrame],
    infer: bool = False,
    include_latest: bool = False,
    partitions: Optional[int] = None,
    partition_by: Optional[str] = None,
) -> None:
    """Fold the ``batch=N`` partitions under ``root`` into
    ``batch=-1``: ``merge`` maps the read of the old ``batch=-1`` plus
    the folded partitions (``schema``/``infer`` as in
    :func:`read_batches`) to the new one.  The newest partition stays
    out unless ``include_latest``: it may be an uncommitted attempt,
    and a retry must be able to overwrite it without its rows also
    living in ``batch=-1``.  ``partitions=None`` sizes the output at
    ceil(folded bytes / 128 MB) files.  Run between batches, never
    concurrently with a batch write."""
    target, staging = _fold_paths(root)
    recover_swap(target, staging)
    if not os.path.isdir(root):
        return
    listed = set(_read_manifest(root))
    ids = sorted(
        int(d[len("batch="):])
        for d in os.listdir(root)
        if d.startswith("batch=") and d != "batch=-1"
    )
    for n in listed.intersection(ids):
        # a post-rename crash leftover: its rows are in batch=-1
        shutil.rmtree(os.path.join(root, f"batch={n}"))
    real = [n for n in ids if n not in listed]
    fold = real if include_latest else real[:-1]
    if fold:
        parts = [os.path.join(root, f"batch={n}") for n in fold]
        if partitions is None:
            partitions = max(
                1, -(-dir_bytes(target, *parts) // _FOLD_TARGET_BYTES)
            )
        merged = merge(
            read_batches(spark, root, schema, infer).where(
                F.col("batch").isin([-1, *fold])
            )
        )

        def write(path: str) -> None:
            writer = merged.repartition(partitions).write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            _write_manifest(path, fold)

        swap_in(target, staging, write)
        for part in parts:
            shutil.rmtree(part)
    if listed or fold:
        _write_manifest(target, [])
