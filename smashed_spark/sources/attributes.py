"""Attribute sidecars: persist per-document SIGNALS (quality scores,
langid, dedup verdicts, token counts) as a slim keyed parquet
separate from the corpus — the architecture that makes 100 TB
re-curation cheap: scoring passes run once and write ~bytes/doc;
every later recipe change (a new threshold, a different mix) is a
JOIN against the sidecar instead of a recompute of the scoring scan.
(The pattern popularized by web-corpus pipelines as "attributes" /
"tagger output"; the reference has no storage surface — additive,
SURVEY.md §2.10.)

Layout contract: one row per key, slim columns only (the writer
PROJECTS key + attributes and refuses wide text columns by default —
a sidecar that carries the corpus defeats its purpose).  The writer
repartitions BY KEY so each sidecar file covers a key range; the
reader's join then co-partitions two key-partitioned sides.  Spark
without a metastore cannot record bucketing metadata in plain
parquet (the bucketBy/saveAsTable trade-off documented in PLANS.md —
same decision as the ingest indexes), so the join still plans its
exchange; what the layout buys is pruning-friendly file sizes and
deterministic file counts.  Deployments with a metastore can
``saveAsTable`` with ``bucketBy(key)`` on BOTH sides to delete the
join exchanges entirely — the helper API stays the same.

Join semantics: ``join_attributes`` broadcasts the sidecar when it is
small (one bounded count against the shared key cap of
core/sizing.py), else a plain equi-join; duplicate sidecar keys raise
IN-PLAN via the shared ``core.order.unique_key_guard`` window
(riding the join's own partitioning) — a duplicated attribute row
would silently multiply corpus rows.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import sizing
from ..core.order import unique_key_guard

__all__ = ["write_attributes", "read_attributes", "join_attributes"]

# ~100 KB/doc corpus convention vs bytes-per-doc attributes: a text
# column in a sidecar is almost always a mistake
_WIDE_TYPES = ("string",)
_WIDE_MAX_NAME_HINTS = ("text", "content", "body", "html")


def write_attributes(
    df: DataFrame,
    path: str,
    key_field: str = "doc_id",
    attribute_fields: Optional[Sequence[str]] = None,
    num_files: Optional[int] = None,
    allow_wide: bool = False,
    mode: str = "overwrite",
) -> List[str]:
    """Project ``(key, attributes...)`` and write the sidecar.

    ``attribute_fields`` defaults to every column except the key and
    any column whose NAME hints at document payload (``text``,
    ``content``, ...) — pass explicitly to override; a payload-named
    column in the explicit list still raises unless
    ``allow_wide=True``.  Rows are repartitioned BY KEY
    (``num_files`` output files; default: Spark's shuffle
    parallelism) so each file covers a key range.  Returns the
    attribute column names written (sans key).
    """
    if key_field not in df.columns:
        raise ValueError(f"key_field {key_field!r} not in {df.columns}")
    if attribute_fields is None:
        attribute_fields = [
            c
            for c in df.columns
            if c != key_field
            and not any(h in c.lower() for h in _WIDE_MAX_NAME_HINTS)
        ]
    else:
        attribute_fields = list(attribute_fields)
        missing = [c for c in attribute_fields if c not in df.columns]
        if missing:
            raise ValueError(f"attribute_fields not in DataFrame: {missing}")
        if not allow_wide:
            wide = [
                c
                for c in attribute_fields
                if any(h in c.lower() for h in _WIDE_MAX_NAME_HINTS)
            ]
            if wide:
                raise ValueError(
                    f"attribute columns {wide} look like document "
                    "payload — a sidecar that carries the corpus "
                    "defeats its purpose (bytes/doc vs ~100 KB/doc). "
                    "Pass allow_wide=True if they really are "
                    "attributes."
                )
    if not attribute_fields:
        raise ValueError("no attribute columns to write")
    slim = df.select(key_field, *attribute_fields)
    part = slim.repartition(num_files, key_field) if num_files else (
        slim.repartition(F.col(key_field))
    )
    part.write.mode(mode).parquet(path)
    return list(attribute_fields)


def read_attributes(spark: SparkSession, path: str) -> DataFrame:
    """The sidecar as a DataFrame (column pruning/pushdown reach the
    parquet scan as usual — select only the attributes a recipe
    needs)."""
    return spark.read.parquet(path)


def join_attributes(
    docs: DataFrame,
    attributes: "DataFrame | str",
    key_field: str = "doc_id",
    fields: Optional[Sequence[str]] = None,
    how: str = "left",
) -> DataFrame:
    """Attach sidecar attributes to the corpus.

    ``attributes`` is a DataFrame or a sidecar path.  ``fields``
    prunes the sidecar read to the named attributes (plus the key).
    The sidecar is ``broadcast()`` when one bounded count shows at
    most ``core.sizing.BROADCAST_KEYS`` rows — the common case for
    filtered sidecars — else a plain equi-join (both sides exchange;
    with a metastore, bucketed tables delete those — module
    docstring).  Duplicate sidecar keys raise in-plan; ``how`` is
    ``left`` (corpus rows with no attributes keep NULLs) or
    ``inner``.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    attrs = (
        read_attributes(docs.sparkSession, attributes)
        if isinstance(attributes, str)
        else attributes
    )
    if key_field not in attrs.columns:
        raise ValueError(
            f"key_field {key_field!r} not in sidecar {attrs.columns}"
        )
    if fields is not None:
        missing = [c for c in fields if c not in attrs.columns]
        if missing:
            raise ValueError(f"fields not in sidecar: {missing}")
        attrs = attrs.select(key_field, *fields)
    clash = [
        c for c in attrs.columns if c != key_field and c in docs.columns
    ]
    if clash:
        raise ValueError(
            f"sidecar columns {clash} already exist on the corpus — "
            "rename or prune with fields=..."
        )
    probe_cols = [c for c in attrs.columns if c != key_field]
    if not probe_cols:
        raise ValueError("sidecar has no attribute columns")
    # duplicate-key guard rides the join's own key partitioning on the
    # slim side.  It must wrap a CARRIED attribute column (first one),
    # not a synthetic dropped column — Catalyst prunes an unused
    # column together with the guard expression inside it (the
    # simhash occupancy-guard lesson).
    guarded = attrs.withColumn(
        probe_cols[0],
        unique_key_guard(
            F.col(probe_cols[0]), key_field, "join_attributes",
            f"join key {key_field!r}",
        ),
    )
    small = sizing.fits(attrs.select(key_field), sizing.BROADCAST_KEYS)
    right = F.broadcast(guarded) if small else guarded
    return docs.join(right, on=key_field, how=how)
