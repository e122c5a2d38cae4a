"""Hypertable-style time-bucket rollups (continuous aggregates).

Beyond-reference surface (the reference — src/smashed/mappers/* — has
no aggregations at all): the "pre-aggregate 100 TB of events into
hour/day/month tables and keep them fresh incrementally" capability
that timeseries stores call continuous aggregates / hypertable
rollups.  Spark-first design:

* every stored statistic is MERGEABLE — ``count``, ``sum``, ``min``,
  ``max``, a non-null count per value column (so ``avg`` is DERIVED as
  ``sum/n``, never stored — stored averages don't merge), and a KMV
  register (the k smallest distinct 60-bit hashes, functions/
  sketches.py convention) per distinct-count column — ``COUNT
  (DISTINCT)`` doesn't merge, registers do (sorted distinct union,
  re-truncate to k);
* the raw corpus is touched ONCE: :func:`rollup_events` is one
  corpus-wide exchange on the (bucket, keys) group key (plus one slim
  pre-distinct exchange when KMV registers are requested — bounded-
  memory by construction, see below); every coarser granularity
  re-aggregates the next-finer ROLLUP (KB–MB of data), never the raw
  events (:func:`rollup_cascade`);
* incremental maintenance keeps the ingest indexes' state layout
  (streaming/ingest.py): each micro-batch writes its own partial
  rollup to a ``batch=N`` parquet partition (idempotent
  overwrite-by-batch-id, so a retried batch is a pure replay), reads
  merge the per-batch partials by re-aggregation (rollup rows, not
  raw history), and small-files compaction folds old partials into
  ``batch=-1``.

The state protocol is the one every on-disk store shares
(sources/batch_state.py): compaction stages the merge outside the
root, swaps it in only once Spark's ``_SUCCESS`` marker is there, and
publishes a ``_folded.json`` manifest of the absorbed batch ids in the
same rename; reads drop the listed partitions.  That is what keeps
rollup SUMS exact — a partial read both inside ``batch=-1`` and as its
own partition would be counted twice — in every crash window the
module docstring there walks through.  Compaction must not interleave
with an in-flight batch write (run it between batches); the newest
real batch always stays un-compacted so a crashed-then-retried batch
can overwrite its own partition without its rows ALSO living in
``batch=-1``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch_state import fold_batches, read_batches
from .hashing import portable_hash60

_HASH_SPACE = 1 << 60

# date_trunc units that nest: truncating an already-truncated bucket
# again must land on the same boundary as truncating the raw
# timestamp.  week is day-aligned but months are NOT week-aligned (a
# week spanning a month boundary would be folded wholly into the
# earlier month), so week is a terminal branch off day.
_FINER_THAN: Dict[str, Tuple[str, ...]] = {
    "minute": ("second",),
    "hour": ("second", "minute"),
    "day": ("second", "minute", "hour"),
    "week": ("second", "minute", "hour", "day"),
    "month": ("second", "minute", "hour", "day"),
    "quarter": ("second", "minute", "hour", "day", "month"),
    "year": ("second", "minute", "hour", "day", "month", "quarter"),
}
_GRANULARITIES = ("second",) + tuple(_FINER_THAN)


@dataclass(frozen=True)
class RollupSpec:
    """What a rollup row stores.  One spec is shared by the builder,
    the merger, the cascade, and the incremental state functions so
    the schema can never drift between a batch partial and the merge
    that consumes it.

    ``values`` columns each yield ``sum_<v> / min_<v> / max_<v> /
    n_<v>`` (n = non-null count, the divisor ``avg`` needs);
    ``distinct`` columns each yield a ``kmv_<d>`` register —
    ``array<bigint>``, the ``k`` smallest distinct md5-60 hashes
    (exactly the :class:`~smashed_spark.functions.sketches.KMVSketch`
    state, so estimates are bit-identical to the driver-side sketch
    and DuckDB-replayable).
    """

    ts_field: str = "ts"
    keys: Tuple[str, ...] = ("event_type",)
    values: Tuple[str, ...] = ("value",)
    distinct: Tuple[str, ...] = ()
    k: int = 64

    def __post_init__(self):
        if self.k < 3:
            raise ValueError("k must be >= 3 (estimator divides by k-2 terms)")
        all_cols = list(self.keys) + list(self.values) + list(self.distinct)
        if len(set(all_cols)) != len(all_cols):
            raise ValueError(
                "keys/values/distinct must not share columns: "
                f"{sorted(all_cols)}"
            )

    @property
    def agg_columns(self) -> List[str]:
        out = ["n_events"]
        for v in self.values:
            out += [f"sum_{v}", f"min_{v}", f"max_{v}", f"n_{v}"]
        for d in self.distinct:
            out.append(f"kmv_{d}")
        return out


def _check_granularity(granularity: str) -> str:
    g = granularity.lower()
    if g not in _GRANULARITIES:
        raise ValueError(
            f"unsupported granularity {granularity!r}; "
            f"one of {sorted(_GRANULARITIES)}"
        )
    return g


def _merge_aggs(spec: RollupSpec) -> List[Column]:
    """Re-aggregation of already-rolled-up rows — every statistic is
    mergeable by construction, so coarsening / batch-merge /
    compaction are all THIS one expression list."""
    aggs = [F.sum("n_events").alias("n_events")]
    for v in spec.values:
        aggs += [
            F.sum(f"sum_{v}").alias(f"sum_{v}"),
            F.min(f"min_{v}").alias(f"min_{v}"),
            F.max(f"max_{v}").alias(f"max_{v}"),
            F.sum(f"n_{v}").alias(f"n_{v}"),
        ]
    for d in spec.distinct:
        # register merge = sorted distinct union, re-truncated to k:
        # associative, commutative, lossless at fixed k (the k
        # smallest of a union is a function of each side's k smallest)
        aggs.append(
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.flatten(F.collect_list(f"kmv_{d}"))
                    )
                ),
                1,
                spec.k,
            ).alias(f"kmv_{d}")
        )
    return aggs


def rollup_events(
    df: DataFrame,
    spec: RollupSpec = RollupSpec(),
    granularity: str = "hour",
) -> DataFrame:
    """Roll raw events up to ``(date_trunc(granularity, ts), *keys)``.

    Plan shape (the 100 TB contract): ONE corpus-wide exchange, on the
    group key, with map-side partial aggregation — count/sum/min/max
    all have partial forms, so the shuffle carries one partial row per
    (task, group), not the corpus.  When ``spec.distinct`` is set, the
    registers are built on a SLIM side plan with bounded memory
    everywhere: project ``(bucket, keys, hash)``, ``.distinct()`` (one
    slim exchange — per-group set sizes never accumulate in one
    task's memory, unlike a ``collect_set`` in the main aggregate,
    whose per-group state is O(distinct values) and OOMs on a
    billion-user bucket), then ``row_number() <= k`` per group —
    Spark's WindowGroupLimit pushes a partial per-group top-k BELOW
    the exchange, so every map task forwards at most k rows per group
    (plan-asserted in tests/test_rollup.py).  The register rows then
    rejoin the main aggregate by UNION + re-aggregation rather than a
    join: register rows carry neutral stats (0 counts, NULL extrema,
    their register), main rows carry empty registers, and one
    :func:`rollup_merge`-style re-aggregation on the group key folds
    them — a NULL group key is just a group (no null-safe join
    machinery, which would re-exchange BOTH sides on coalesced keys),
    and every exchange past the first two carries ROLLUP-sized rows,
    not the corpus.  The raw input is scanned twice (stats + a
    column-pruned (ts, keys, d) scan per register column) — the
    standard trade against an O(per-group distinct) collect_set.
    """
    g = _check_granularity(granularity)
    if "bucket" in df.columns:
        raise ValueError(
            "input already has a 'bucket' column — rename it (the "
            "rollup owns that name)"
        )
    bucket = F.date_trunc(g, F.col(spec.ts_field)).alias("bucket")
    group = ["bucket", *spec.keys]
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for v in spec.values:
        c = F.col(v).cast("double")
        aggs += [
            F.sum(c).alias(f"sum_{v}"),
            F.min(c).alias(f"min_{v}"),
            F.max(c).alias(f"max_{v}"),
            F.count(c).alias(f"n_{v}"),
        ]
    main = (
        df.select(bucket, *spec.keys, *spec.values)
        .groupBy(*group)
        .agg(*aggs)
    )
    if not spec.distinct:
        return main
    from pyspark.sql.window import Window

    empty_reg = F.array().cast("array<bigint>")
    # main rows: empty registers (a bucket whose distinct column is
    # all-NULL ends with an empty register, not a NULL one — estimate
    # 0, and the merge algebra stays total)
    main = main.select(
        "*", *[empty_reg.alias(f"kmv_{d}") for d in spec.distinct]
    )
    frames = [main]
    neutral = [F.lit(0).cast("bigint").alias("n_events")]
    for v in spec.values:
        neutral += [
            F.lit(None).cast("double").alias(f"sum_{v}"),
            F.lit(None).cast("double").alias(f"min_{v}"),
            F.lit(None).cast("double").alias(f"max_{v}"),
            F.lit(0).cast("bigint").alias(f"n_{v}"),
        ]
    for d in spec.distinct:
        hashes = (
            df.select(
                bucket,
                *spec.keys,
                portable_hash60(F.col(d).cast("string")).alias("__h__"),
            )
            .where(F.col(d).isNotNull())
            .distinct()
        )
        w = Window.partitionBy(*group).orderBy("__h__")
        reg = (
            hashes.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") <= spec.k)
            .groupBy(*group)
            .agg(F.sort_array(F.collect_list("__h__")).alias(f"kmv_{d}"))
        )
        frames.append(
            reg.select(
                *group,
                *neutral,
                *[
                    F.col(f"kmv_{d}") if d2 == d else empty_reg.alias(
                        f"kmv_{d2}"
                    )
                    for d2 in spec.distinct
                ],
            )
        )
    return rollup_merge(frames, spec)


def rollup_merge(
    frames: Sequence[DataFrame], spec: RollupSpec = RollupSpec()
) -> DataFrame:
    """Merge partial rollups AT THE SAME granularity (cross-batch,
    cross-shard, cross-day): union then one re-aggregation on the
    group key.  Input is rollup rows — KB–MB — so this is the cheap
    path raw-event re-scans are traded for."""
    if not frames:
        raise ValueError("rollup_merge needs at least one frame")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    group = ["bucket", *spec.keys]
    return out.groupBy(*group).agg(*_merge_aggs(spec))


def rollup_to_granularity(
    rollup: DataFrame,
    coarser: str,
    spec: RollupSpec = RollupSpec(),
    finer: Optional[str] = None,
) -> DataFrame:
    """Derive a coarser rollup FROM a finer one (hour -> day -> month
    ...): re-truncate the bucket, re-aggregate the mergeable stats.
    Never touches raw events.  When ``finer`` is given, the nesting is
    validated — ``month`` from ``week`` buckets would silently
    misassign boundary-spanning weeks, so it raises instead."""
    c = _check_granularity(coarser)
    if finer is not None:
        f_ = _check_granularity(finer)
        if f_ not in _FINER_THAN.get(c, ()):
            raise ValueError(
                f"{coarser!r} buckets cannot be derived from {finer!r} "
                f"buckets (boundaries don't nest); derive from one of "
                f"{sorted(_FINER_THAN.get(c, ()))} or from raw events"
            )
    group = ["bucket", *spec.keys]
    return (
        rollup.withColumn("bucket", F.date_trunc(c, F.col("bucket")))
        .groupBy(*group)
        .agg(*_merge_aggs(spec))
    )


def rollup_cascade(
    df: DataFrame,
    granularities: Sequence[str],
    spec: RollupSpec = RollupSpec(),
) -> Dict[str, DataFrame]:
    """The continuous-aggregate build: ONE pass over raw events at the
    finest granularity, then each coarser level from the previous
    level's rollup.  ``granularities`` must be ordered fine -> coarse
    and each step must nest (see :func:`rollup_to_granularity`)."""
    if not granularities:
        raise ValueError("granularities must be non-empty")
    gs = [_check_granularity(g) for g in granularities]
    out: Dict[str, DataFrame] = {gs[0]: rollup_events(df, spec, gs[0])}
    for finer, coarser in zip(gs, gs[1:]):
        out[coarser] = rollup_to_granularity(
            out[finer], coarser, spec, finer=finer
        )
    return out


def rollup_estimates(
    rollup: DataFrame, spec: RollupSpec = RollupSpec()
) -> DataFrame:
    """The read-side view: derive ``avg_<v>`` (``sum/n``, NULL when
    every input was NULL) and ``distinct_<d>`` from the stored
    mergeable state.  The KMV estimate is the integer-arithmetic
    Bar-Yossef estimator ``(k-1) * 2^60 div h_(k)`` — bit-identical to
    :meth:`KMVSketch.estimate` and to the DuckDB HUGEINT replay
    (integral ``div`` on a DECIMAL(38,0) product; the product
    overflows a bigint, the quotient never does: the k-th smallest of
    k distinct non-negative hashes is >= k-1, bounding the quotient by
    2^60).  Exact (= register size) below saturation."""
    cols = list(rollup.columns)
    for v in spec.values:
        cols.append(
            F.when(
                F.col(f"n_{v}") > 0, F.col(f"sum_{v}") / F.col(f"n_{v}")
            ).alias(f"avg_{v}")
        )
    for d in spec.distinct:
        reg = F.col(f"kmv_{d}")
        cols.append(
            F.when(F.size(reg) < spec.k, F.size(reg).cast("bigint"))
            .otherwise(
                F.expr(
                    f"CAST({spec.k - 1} AS DECIMAL(38,0)) * "
                    f"{_HASH_SPACE} div element_at(`kmv_{d}`, {spec.k})"
                )
            )
            .alias(f"distinct_{d}")
        )
    return rollup.select(*cols)


# ---------------------------------------------------------------------------
# incremental state (the staged-swap protocol of sources/batch_state.py)
# ---------------------------------------------------------------------------


def _root(state_dir: str) -> str:
    return os.path.join(state_dir, "rollup")


def _schema(spec: RollupSpec, key_types: Optional[Dict[str, str]]) -> str:
    """DDL of a rollup row; ``key_types`` per key column, default
    ``string``."""
    kt = key_types or {}
    aggs = [
        f"`{c}` " + (
            "array<bigint>" if c.startswith("kmv_")
            else "bigint" if c.startswith("n_") else "double"
        )
        for c in spec.agg_columns
    ]
    keys = [f"`{k}` {kt.get(k, 'string')}" for k in spec.keys]
    return ", ".join(["bucket timestamp", *keys, *aggs])


def rollup_ingest_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    batch_id: int,
    spec: RollupSpec = RollupSpec(),
    granularity: str = "hour",
) -> None:
    """Fold one micro-batch into the incremental rollup state: compute
    the batch's PARTIAL rollup (one batch-sized exchange — raw history
    is never touched) and overwrite ``rollup/batch=N``.  Idempotent on
    retry by the same overwrite-by-batch-id contract as
    streaming/ingest.py: a replayed batch rewrites the same paths.
    ``batch_id`` must be >= 0 (-1 is the compacted partition).

    ``spark`` is unused here (the batch frame carries its session)
    and kept only for signature symmetry with :func:`read_rollup` /
    :func:`compact_rollup_state`, which do need it — a uniform
    ``(spark, state_dir, ...)`` family shape is less error-prone to
    thread through foreachBatch bodies and retry wrappers."""
    if batch_id < 0:
        raise ValueError("batch_id must be >= 0 (-1 is reserved)")
    rollup_events(batch, spec, granularity).write.mode("overwrite").parquet(
        os.path.join(_root(state_dir), f"batch={batch_id}")
    )


def read_rollup(
    spark: SparkSession,
    state_dir: str,
    spec: RollupSpec = RollupSpec(),
    key_types: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """The merged rollup as a DataFrame — empty (typed) before the
    first batch commits.  Reads the compacted ``batch=-1`` partition
    plus every per-batch partial the compaction manifest does NOT list
    as already folded (the shared state read,
    :func:`~smashed_spark.sources.batch_state.read_batches`), then
    merges by one re-aggregation over rollup-sized rows.
    ``key_types`` gives the DDL type per key column for the
    empty-state frame (default ``string``); once a batch exists the
    parquet schema wins."""
    df = read_batches(
        spark, _root(state_dir), _schema(spec, key_types), infer=True
    )
    return rollup_merge([df.drop("batch")], spec)


def compact_rollup_state(
    spark: SparkSession,
    state_dir: str,
    spec: RollupSpec = RollupSpec(),
    partitions: Optional[int] = None,
) -> None:
    """Fold old per-batch partials into one ``batch=-1`` partition
    through the staged-swap protocol every on-disk store shares
    (:func:`~smashed_spark.sources.batch_state.fold_batches`): the
    merge is :func:`rollup_merge`, and the ``_folded.json`` manifest
    published with it keeps a partial from being summed twice in any
    crash window.  The newest real batch stays out (it may be an
    uncommitted attempt that will be retried via overwrite).
    ``partitions=None`` sizes the output at ceil(folded bytes /
    128 MB) files — one file below that.  Run between batches, never
    concurrently with a batch write."""
    fold_batches(
        spark,
        _root(state_dir),
        _schema(spec, None),
        lambda df: rollup_merge([df.drop("batch")], spec),
        infer=True,
        partitions=partitions,
    )


def streaming_rollup(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    spec: RollupSpec = RollupSpec(),
    granularity: str = "hour",
    compact_every: int = 0,
    query_name: str = "rollup",
    available_now: bool = True,
):
    """The CONTINUOUS aggregate: run the incremental rollup over an
    unbounded event stream — ``foreachBatch(rollup_ingest_batch)``
    with the per-batch partial partitions as cross-batch state,
    queryable at any time via :func:`read_rollup` (and cascadable /
    estimable from there).  Returns the started ``StreamingQuery``.

    ``compact_every=N`` folds old partials after every N-th
    micro-batch, INSIDE the foreachBatch body — foreachBatch commits
    serially, so compaction never interleaves with a batch write (the
    documented requirement), and the keep-newest-out rule composes
    with retries: the batch just written is never folded, so a
    crashed-then-replayed batch overwrites its own partition without
    its rows also living in ``batch=-1``.  ``0`` disables in-stream
    compaction (run :func:`compact_rollup_state` while the stream is
    stopped instead).

    ``available_now=True`` drains the currently-available input and
    self-terminates (backfill / test mode); ``False`` runs
    continuously with the default trigger — the streaming/ingest.py
    contract."""
    from ..streaming.runner import start_foreach_batch

    if compact_every < 0:
        raise ValueError("compact_every must be >= 0")

    def _body(batch: DataFrame, batch_id: int) -> None:
        rollup_ingest_batch(
            batch.sparkSession, state_dir, batch, batch_id, spec,
            granularity,
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_rollup_state(batch.sparkSession, state_dir, spec)

    return start_foreach_batch(
        stream,
        _body,
        checkpoint_dir,
        query_name,
        available_now,
        "streaming_rollup",
        "for batch data call rollup_ingest_batch directly",
    )
