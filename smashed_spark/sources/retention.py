"""Data governance: delete propagation and retention sweeps.

Beyond-reference surface (the reference never touches storage): the
two deletion shapes a 100 TB corpus operator actually runs —

* **forget lists** (:func:`apply_deletions`) — "remove these keys
  everywhere" (GDPR/right-to-be-forgotten, takedown lists, opted-out
  creators).  One LEFT ANTI join against the key set — broadcast when
  the list is list-sized (the corpus side never exchanges), plain
  shuffled anti-join above the shared key cap, sized by one bounded
  count (core/sizing.py: never an unbounded count of the key set) —
  then the staged swap every on-disk store shares
  (sources/batch_state.py).  Row accounting comes from parquet
  FOOTERS (before/after), not extra count scans.
* **retention windows** (:func:`drop_partitions_older_than`) —
  "drop data older than N days".  When the dataset is partitioned by
  a day-shaped transform (sources/layout.py :func:`~.layout.days`
  writes sortable ``yyyy-MM-dd`` strings precisely so this works),
  expiry is a DIRECTORY delete: zero bytes scanned, zero Spark jobs,
  per-directory removal idempotent under crashes.

NULL hygiene: a NULL in the forget list raises loudly — a LEFT ANTI
join can never match NULL (NULL <> anything), so a NULL "deletion"
would be silently ignored; the caller must decide what a NULL key
means.  Same stance as corpus_diff / with_prefix_sum.

Scale notes
-----------
* The rewrite reads and writes every surviving byte ONCE — that is
  the floor for an in-place format without delete vectors.  The
  100 TB optimization (rewrite only partitions that contain a match)
  needs the forget keys to carry the partition column; pass
  ``partition_scope={col: [values...]}`` to restrict the rewrite to
  those directories and leave every other partition untouched on
  disk.
* Partition columns are preserved: a hive-partitioned input is
  re-written ``partitionBy`` the same columns, so directory pruning
  survives the rewrite.
* Local-filesystem-only for the in-place swap (same reasoning and
  message as :func:`~.layout.compact_dataset`); object stores want
  write-new-prefix + pointer flip.
"""

from __future__ import annotations

import os
import shutil
from typing import Dict, Mapping, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import sizing
from .batch_state import recover_swap, swap_in
from .layout import _local_path, _parquet_files_under, _swap_staging_path

RETENTION_STAGING_SUFFIX = "__retention_staging__"


def _staging_path(path: str) -> str:
    return _swap_staging_path(path, RETENTION_STAGING_SUFFIX)


def recover_retention_swap(path: str) -> bool:
    """Finish a deletion swap that crashed between removing the
    original and renaming staging in — the shared staged-swap repair
    (:func:`~smashed_spark.sources.batch_state.recover_swap`), same
    contract as ``recover_compaction_swap``.  ``path`` may be the
    dataset root OR a scoped partition directory;
    :func:`apply_deletions` runs it on the root and on every scoped
    target at entry."""
    local = _local_path(path, caller="apply_deletions")
    return recover_swap(local, _staging_path(local))


def _footer_row_count(local: str) -> int:
    """Total rows from parquet footers — KB of metadata per file, no
    Spark job, no data read."""
    import pyarrow.parquet as pq

    total = 0
    for f in _parquet_files_under(local):
        total += pq.ParquetFile(f).metadata.num_rows
    return total


def _partition_columns(local: str) -> list:
    """Hive partition column names, outermost first, from the
    directory shape (``col=value`` path segments of any data file)."""
    for root, dirs, names in os.walk(local):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        if any(n.endswith(".parquet") for n in names):
            rel = os.path.relpath(root, local)
            if rel == ".":
                return []
            return [
                seg.split("=", 1)[0]
                for seg in rel.split(os.sep)
                if "=" in seg
            ]
    return []


def apply_deletions(
    spark: SparkSession,
    path: str,
    keys: Union[DataFrame, Sequence],
    key_field: str,
    partition_scope: Optional[Mapping[str, Sequence]] = None,
    verify_all_deleted: bool = False,
    compression: str = "zstd",
) -> Dict[str, object]:
    """Rewrite the dataset at ``path`` without any row whose
    ``key_field`` appears in ``keys``; in place, crash-safe.

    ``keys`` is a DataFrame holding ``key_field`` (any extra columns
    are projected away) or a small Python sequence.  Strategy is
    probed with one bounded count against the shared key cap
    (``core.sizing.BROADCAST_KEYS``) and recorded in the report:
    ``broadcast`` keeps the corpus side exchange-free; ``plain`` is
    the shuffled anti-join for corpus-sized forget lists.

    ``partition_scope`` (``{partition_col: [values...]}``) is the
    100 TB lever: only matching partition directories are read and
    rewritten; everything else is untouched on disk (not even
    footers are opened).  The scope column must be one of the
    dataset's hive partition columns.

    ``verify_all_deleted=True`` adds one audit job after the swap: a
    LEFT SEMI count of surviving rows against the key set, asserted
    zero (and returned in the report as ``remaining_matches``).
    """
    local = _local_path(path, caller="apply_deletions")
    recover_retention_swap(local)
    if not os.path.isdir(local):
        raise ValueError(f"apply_deletions: {path!r} is not a directory")

    if isinstance(keys, DataFrame):
        keys_df = keys.select(key_field)
    else:
        keys = list(keys)
        if len(keys) > 10_000_000:
            raise ValueError(
                "apply_deletions: pass forget lists this large "
                f"({len(keys)} keys) as a DataFrame, not a Python "
                "sequence — a driver-side list of this size belongs "
                "in storage"
            )
        if not keys:
            raise ValueError("apply_deletions: empty forget list")
        keys_df = spark.createDataFrame(
            [(k,) for k in keys], [key_field]
        ).select(key_field)

    # NULL forget keys raise: LEFT ANTI can never match NULL, so the
    # "deletion" would silently do nothing
    if keys_df.filter(F.col(key_field).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"apply_deletions: NULL in the forget list ({key_field}); "
            "an anti-join never matches NULL, so this key would be "
            "silently ignored — drop it or decide what NULL means"
        )

    part_cols = _partition_columns(local)
    scope_dirs = None
    if partition_scope:
        for c in partition_scope:
            if c not in part_cols:
                raise ValueError(
                    f"apply_deletions: partition_scope column {c!r} is "
                    f"not a partition column of {path!r} "
                    f"(partitions: {part_cols or 'none'})"
                )
        if len(partition_scope) != 1:
            raise ValueError(
                "apply_deletions: partition_scope takes exactly one "
                "column (scope on the outermost partition level)"
            )
        (scope_col, scope_vals), = partition_scope.items()
        if scope_col != part_cols[0]:
            raise ValueError(
                f"apply_deletions: partition_scope column {scope_col!r} "
                f"must be the outermost partition ({part_cols[0]!r}) — "
                "inner scoping would splice directory trees"
            )
        scope_dirs = [
            os.path.join(local, f"{scope_col}={v}") for v in scope_vals
        ]
        # a scoped rewrite that crashed mid-commit left THIS partition
        # directory missing with a complete staging sibling — repair
        # before the existence check, or the re-run raises forever
        for d in scope_dirs:
            recover_retention_swap(d)
        missing = [d for d in scope_dirs if not os.path.isdir(d)]
        if missing:
            raise ValueError(
                f"apply_deletions: scoped partitions missing on disk: "
                f"{[os.path.basename(m) for m in missing]}"
            )

    targets = scope_dirs if scope_dirs is not None else [local]
    # bounded strategy probe (never an unbounded count of the key set)
    probed = sizing.capped_count(keys_df, sizing.BROADCAST_KEYS)
    if probed == 0:
        raise ValueError(
            "apply_deletions: empty forget list (the DataFrame has no "
            "rows) — refusing a full rewrite that would delete nothing"
        )
    use_broadcast = probed <= sizing.BROADCAST_KEYS
    anti_rhs = F.broadcast(keys_df) if use_broadcast else keys_df

    report: Dict[str, object] = {
        "path": path,
        "key_field": key_field,
        "strategy": "broadcast" if use_broadcast else "plain",
        "scoped_partitions": (
            [os.path.basename(d) for d in scope_dirs]
            if scope_dirs is not None
            else None
        ),
    }
    # partition columns BELOW the scoped level must be re-written as
    # directories; when unscoped, all of them
    inner_parts = part_cols[1:] if scope_dirs is not None else part_cols
    rows_before = 0
    rows_after = 0
    for tdir in targets:
        rows_before += _footer_row_count(tdir)
        df = spark.read.parquet(tdir)
        if key_field not in df.columns:
            raise ValueError(
                f"apply_deletions: {key_field!r} not in dataset columns "
                f"{df.columns}"
            )
        survivors = df.join(anti_rhs, on=key_field, how="left_anti")

        def write(staging: str) -> None:
            writer = survivors.write.mode("overwrite").option(
                "compression", compression
            )
            if inner_parts:
                writer = writer.partitionBy(*inner_parts)
            writer.parquet(staging)

        swap_in(tdir, _staging_path(tdir), write)
        rows_after += _footer_row_count(tdir)

    report["rows_before"] = rows_before
    report["rows_after"] = rows_after
    report["rows_deleted"] = rows_before - rows_after

    if verify_all_deleted:
        remaining = 0
        for tdir in targets:
            remaining += (
                spark.read.parquet(tdir)
                .join(anti_rhs, on=key_field, how="left_semi")
                .count()
            )
        report["remaining_matches"] = remaining
        if remaining:
            raise RuntimeError(
                f"apply_deletions: {remaining} rows matching the "
                "forget list survived the rewrite — this is a bug, "
                "the staging swap was NOT rolled back (the data is "
                "still present, nothing was lost); please report"
            )
    return report


def drop_partitions_older_than(
    path: str,
    partition_field: str,
    cutoff: str,
    dry_run: bool = False,
) -> Dict[str, object]:
    """Directory-level retention sweep: remove every
    ``partition_field=value`` directory with ``value < cutoff``
    (string comparison — the :func:`~.layout.days`/``hours``
    transforms write zero-padded sortable values precisely so that
    lexicographic == chronological).  Zero bytes scanned, zero Spark
    jobs; each directory removal is idempotent, so a crashed sweep is
    simply re-run.

    ``dry_run=True`` lists what would be dropped without touching
    disk — run it first in anything automated."""
    local = _local_path(path, caller="drop_partitions_older_than")
    if not os.path.isdir(local):
        raise ValueError(
            f"drop_partitions_older_than: {path!r} is not a directory"
        )
    prefix = f"{partition_field}="
    part_dirs = sorted(
        d
        for d in os.listdir(local)
        if os.path.isdir(os.path.join(local, d)) and d.startswith(prefix)
    )
    if not part_dirs:
        raise ValueError(
            f"drop_partitions_older_than: no {prefix}* directories "
            f"under {path!r} — is the dataset partitioned by "
            f"{partition_field!r}?"
        )
    expired = [d for d in part_dirs if d[len(prefix):] < cutoff]
    if not dry_run:
        for d in expired:
            shutil.rmtree(os.path.join(local, d))
    return {
        "path": path,
        "partition_field": partition_field,
        "cutoff": cutoff,
        "dry_run": dry_run,
        "partitions_total": len(part_dirs),
        "partitions_dropped": [d[len(prefix):] for d in expired],
        "partitions_kept": len(part_dirs) - len(expired),
    }
