"""Ordering utilities and the key contract.

The reference's datasets are implicitly ordered sequences, and several
operators are order-*sensitive* (SURVEY.md §2.5, risk register §7.1):
``FixedBatchSizeMapper``, ``FewShotJinjaMapper``,
``EnumerateFieldMapper(same_id_for_repeated=True)``.  Spark DataFrames
are unordered, so order-sensitive mappers require an explicit ordering
column.

Scale notes
-----------
``row_number()`` over an un-partitioned window collapses to a single
task — unusable at 100 TB.  ``with_row_index`` instead uses the
two-phase trick: per-partition sequential ids + a tiny driver-side
cumulative-offset map (one count per partition, i.e. KB-sized even with
100k partitions).  When the data has a natural total order (a key
column), prefer ``sort_by`` + that key directly; the synthetic index is
only for "encounter order" parity with the reference.

Key contract
------------
Operators that order, join back or decide per key need a key that is
non-NULL and, usually, unique.  :func:`null_key_guard` and
:func:`unique_key_guard` raise in-plan when it is not, with one message
shape everywhere.  Each wraps a column the CALLER KEEPS in its output:
Catalyst prunes a guard together with the column it rides.  The
uniqueness guard is a count window over the key, so it rides an
exchange on the key that the caller's join or window pays anyway.
Nest the NULL guard outside the uniqueness guard so a NULL key raises
as NULL first.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ROW_ID = "__row_id__"


def with_row_index(
    df: DataFrame,
    order_by: Optional[Sequence[str]] = None,
    col_name: str = ROW_ID,
) -> DataFrame:
    """Add a 0-based contiguous global row index.

    If ``order_by`` is given the index follows that ordering using a
    range-partitioned sort (Spark's global ``orderBy``) followed by the
    two-phase per-partition assignment — no single-task bottleneck.
    Without ``order_by`` the index reflects current partition order
    (deterministic for deterministic inputs such as parquet scans).
    """
    if order_by:
        df = df.orderBy(*order_by)

    spark = df.sparkSession
    in_cols = df.columns

    # Both phases stay in Catalyst (Tungsten rows, whole-stage codegen —
    # no Python/RDD serialization round-trip):
    #   phase 1: per-partition (min monotonic id, count) — a tiny
    #            aggregate, one row per partition;
    #   phase 2: broadcast-join the KB-sized offset table back and
    #            compute off + (mid - mn) per row, narrow.
    # ``monotonically_increasing_id`` is contiguous within a partition
    # (pid << 33 + local row number), so mid - min(mid) is the local
    # index.  ``localCheckpoint`` pins one eager materialization so the
    # two phases can never diverge even for nondeterministic inputs —
    # and, unlike ``persist`` (whose CacheManager entry survives until
    # an explicit unpersist), the checkpoint blocks are released by the
    # ContextCleaner once the caller drops the returned DataFrame, so
    # repeated calls don't pin input copies for the session.  Executor
    # loss after lineage truncation fails the job loudly rather than
    # recomputing inconsistently.
    tagged = (
        df.withColumn("__pid__", F.spark_partition_id())
        .withColumn("__mid__", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    sizes = (
        tagged.groupBy("__pid__")
        .agg(F.min("__mid__").alias("__mn__"), F.count(F.lit(1)).alias("__cnt__"))
        .collect()
    )
    acc = 0
    offset_rows = []
    for r in sorted(sizes, key=lambda r: r["__pid__"]):
        offset_rows.append((r["__pid__"], r["__mn__"], acc))
        acc += r["__cnt__"]
    offsets = spark.createDataFrame(
        offset_rows, "__pid__: int, __mn__: bigint, __off__: bigint"
    )
    out = tagged.join(F.broadcast(offsets), "__pid__")
    return out.select(
        *in_cols,
        (F.col("__off__") + F.col("__mid__") - F.col("__mn__"))
        .cast("bigint")
        .alias(col_name),
    )


def with_order_key(
    df: DataFrame, order_by: Sequence[str], col_name: str = ROW_ID
) -> DataFrame:
    """Row index via a window over an explicit key ordering.

    Single-task for the un-partitioned window — fine at test scale and
    for oracle parity; at 100 TB use :func:`with_row_index` instead.
    Kept because it is fully deterministic given a total-order key and
    avoids the RDD round-trip (keeps the plan in Catalyst).
    """
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(col_name, F.row_number().over(w) - F.lit(1))


def _key_list(keys: Union[str, Sequence[str]]) -> list:
    return [keys] if isinstance(keys, str) else list(keys)


def null_key_guard(
    value: Column, keys: Union[str, Sequence[str]], who: str, name: str
) -> Column:
    """``value``, raising in-plan where any of ``keys`` is NULL.
    ``who`` prefixes the message (the public verb) and ``name`` names
    the key to the user (``"order_by 'doc_id'"``)."""
    null = F.lit(False)
    for k in _key_list(keys):
        null = null | F.col(k).isNull()
    return F.when(
        null,
        F.raise_error(
            F.lit(
                f"{who}: {name} has a NULL value; a NULL key "
                "cannot be totally ordered, matched or hashed "
                "deterministically. Filter or fill the key column."
            )
        ),
    ).otherwise(value)


def unique_key_guard(
    value: Column,
    keys: Union[str, Sequence[str]],
    who: str,
    name: str,
    expected: int = 1,
) -> Column:
    """``value``, raising in-plan where a key value has other than
    ``expected`` rows (a count window over ``keys``; ``expected`` is
    more than 1 when each key legitimately owns several rows, e.g. one
    per MinHash band)."""
    cols = _key_list(keys)
    n = F.count(F.lit(1)).over(Window.partitionBy(*cols))
    return F.when(n == F.lit(expected), value).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{who}: {name} is not unique (value "),
                F.concat_ws("/", *[F.col(k).cast("string") for k in cols]),
                F.lit(" appears "),
                (n / F.lit(expected)).cast("int").cast("string"),
                F.lit(
                    " times); duplicate keys fan a join out or merge "
                    "distinct rows into one decision. Dedup or re-key "
                    "upstream."
                ),
            )
        )
    )
