"""Corpus snapshot diff — what changed between two versions of a
keyed dataset.

Beyond-reference surface (the reference — src/smashed/mappers/* — is
row-local and has no joins): the release-audit question every
large-scale data pipeline asks before shipping a new corpus snapshot
("v2 vs v1: how many docs appeared, vanished, or changed — and which
FIELDS changed?").  Spark-first design:

* ONE full-outer equi-join on the key — each side exchanges once on
  the key and nothing else; all comparisons are JVM-side null-safe
  equality on the joined row (no hashing, no UDFs, scan-speed), so
  Catalyst prunes both scans down to key + compared columns;
* per-field change attribution is an in-plan array fold
  (``array_compact`` over per-field ``when`` markers — field names in
  sorted order, so the output is deterministic and SQL-replayable
  with ``concat_ws`` over ``IS DISTINCT FROM`` cases);
* duplicate keys would silently fan the join out (a key appearing
  twice in each side yields four joined rows), so both sides carry
  the established count-window guard riding the SAME key
  partitioning the join needs — duplicates raise loudly, no extra
  exchange (``core.order.unique_key_guard``);
* NULL keys raise loudly (a snapshot keyed by NULL is a data bug —
  the same stance as with_prefix_sum's NULL-key check).  Raising is
  also what keeps the join on PLAIN equality: a null-safe join would
  hash-partition both corpus-sized sides a SECOND time on
  coalesce-wrapped keys, while with plain keys the guard window and
  the join share one exchange per side;
* :func:`diff_summary` re-aggregates the diff to per-status (or
  per-status-per-group) counts — rollup-sized output.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.order import null_key_guard, unique_key_guard

STATUS_ADDED = "added"
STATUS_REMOVED = "removed"
STATUS_CHANGED = "changed"
STATUS_UNCHANGED = "unchanged"


def _present(keys: List[str], side: str) -> Column:
    """The side's presence marker, wrapped in the NULL-key and
    duplicate-key raises (NULL first).  The marker is CARRIED into the
    status computation, so Catalyst cannot prune the guards away (a
    guard on a dropped synthetic column is pruned with it)."""
    name = f"key {keys!r} in the {side} snapshot"
    return null_key_guard(
        unique_key_guard(F.lit(True), keys, "corpus_diff", name),
        keys, "corpus_diff", name,
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key_fields: Sequence[str] = ("doc_id",),
    compare_fields: Optional[Sequence[str]] = None,
    status_field: str = "diff_status",
    changed_field: str = "changed_fields",
) -> DataFrame:
    """Row-level diff of two keyed snapshots.

    Returns one row per key in ``old`` ∪ ``new`` with the key
    columns, ``status_field`` ∈ added/removed/changed/unchanged, and
    ``changed_field`` — an ``array<string>`` of the compared fields
    that differ (sorted by field name; empty unless the status is
    ``changed``).  ``compare_fields`` defaults to every column the
    two snapshots share, minus the keys; comparison is NULL-safe
    (NULL == NULL counts as equal, NULL vs value as a change).
    """
    keys = list(key_fields)
    if not keys:
        raise ValueError("key_fields must be non-empty")
    for side, df in (("old", old), ("new", new)):
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(f"{side} snapshot is missing key(s) {missing}")
    if compare_fields is None:
        compare = sorted(
            (set(old.columns) & set(new.columns)) - set(keys)
        )
    else:
        compare = sorted(compare_fields)
        for side, df in (("old", old), ("new", new)):
            missing = [c for c in compare if c not in df.columns]
            if missing:
                raise ValueError(
                    f"{side} snapshot is missing compare field(s) "
                    f"{missing}"
                )
        if set(compare) & set(keys):
            raise ValueError("compare_fields must not overlap key_fields")
    for c in (status_field, changed_field):
        if c in keys or c in compare:
            raise ValueError(
                f"output column {c!r} collides with a key/compare field"
            )
    # guard, then rename, in two steps: folded into one select, the
    # join plans a second exchange per side (test_diff pins one)
    o = old.withColumn("__old_present__", _present(keys, "old")).select(
        *[F.col(k).alias(f"__ok_{k}__") for k in keys],
        *[F.col(c).alias(f"__o_{c}__") for c in compare],
        "__old_present__",
    )
    n = new.withColumn("__new_present__", _present(keys, "new")).select(
        *[F.col(k).alias(f"__nk_{k}__") for k in keys],
        *[F.col(c).alias(f"__n_{c}__") for c in compare],
        "__new_present__",
    )
    cond = None
    for k in keys:
        c = F.col(f"__ok_{k}__") == F.col(f"__nk_{k}__")
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    same: List[Column] = [
        F.col(f"__o_{c}__").eqNullSafe(F.col(f"__n_{c}__"))
        for c in compare
    ]
    all_same = F.lit(True)
    for s in same:
        all_same = all_same & s
    old_here = F.col("__old_present__").isNotNull()
    new_here = F.col("__new_present__").isNotNull()
    status = (
        F.when(~old_here, F.lit(STATUS_ADDED))
        .when(~new_here, F.lit(STATUS_REMOVED))
        .when(all_same, F.lit(STATUS_UNCHANGED))
        .otherwise(F.lit(STATUS_CHANGED))
    )
    changed = F.when(
        old_here & new_here,
        F.array_compact(
            F.array(
                *[
                    F.when(~s, F.lit(c))
                    for c, s in zip(compare, same)
                ]
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return joined.select(
        *[
            F.coalesce(F.col(f"__ok_{k}__"), F.col(f"__nk_{k}__")).alias(k)
            for k in keys
        ],
        status.alias(status_field),
        changed.alias(changed_field),
    )


def diff_summary(
    diff: DataFrame,
    group_by: Sequence[str] = (),
    status_field: str = "diff_status",
) -> DataFrame:
    """Counts per status (optionally per extra group column carried
    on the diff frame): the release-audit headline numbers.  One
    rollup-sized aggregation."""
    return (
        diff.groupBy(*group_by, status_field)
        .agg(F.count(F.lit(1)).alias("n"))
    )
