"""Streaming ingestion dedup: the daily-batch pattern of
``examples/ingest_daily.py`` (exact digest index + MinHash band-key
index, never rescanning history) wired into Structured Streaming via
``foreachBatch``.

The reference has no streaming surface (SURVEY.md §2.9); this is the
additive Spark-native composition of
:func:`~smashed_spark.functions.dedup.dedup_incremental` and
:func:`~smashed_spark.functions.dedup.dedup_incremental_fuzzy` for an
unbounded document feed.

State model — everything persistent is PARQUET under ``state_dir``:

* ``digests/batch=N/``  — 32 B/doc md5 digests of every survivor
* ``bands/batch=N/``    — ~``bands`` x 36 B/doc MinHash band keys
* ``semantic/batch=N/cell=M/`` — (opt-in) 8 x dims B/doc unit
  embeddings, cell-partitioned so per-batch reads prune to the
  batch's touched cells
* survivors land in ``out_dir/batch=N/``

Index-size accounting at the 100 TB design point (~10^9 docs at the
repo's ~100 KB/doc convention): digests ~32 GB (32 B/doc), band keys
~``bands`` x 36 B/doc ≈ 144 GB at ``bands=4`` — together ~3000x
smaller than the corpus, which is what makes never-rescan ingestion
dedup possible, but NOT "a few GB": per-batch index handling must
still avoid gratuitous full-index shuffles (see ``_read_state`` —
only the un-compacted tail is distinct'd per batch).

Each micro-batch N (1) reads the full compact index EXCLUDING its own
``batch=N`` partition (~180 GB of slim keys at 100 TB of history vs
a rescan of the corpus itself — the whole point; the index is SCANNED
once per batch and never exchanged: ONE bounded sizing count on the
raw batch routes BOTH dedup operators between ``broadcast_probe``
mode — the bounded batch's key set broadcast into an index probe
instead of shuffling the index into a join — and, for a batch above
the shared key cap (``core.sizing.BROADCAST_KEYS``) where the probe
itself would be an unbounded broadcast, the plain anti/indicator
join: an oversized backfill pays one batch+index exchange instead of
OOMing the executors),
(2) scrubs the batch against it with the batch operators,
(3) OVERWRITES its own ``batch=N`` subdirectories.  Together these
make a retried batch a pure replay: the overwrite rewrites the same
paths instead of appending duplicates, and excluding the batch's own
prior index contributions means the re-run computes the same verdicts
instead of dropping every doc as "already seen" — the standard
exactly-once recipe for foreachBatch file sinks, pinned by
tests/test_multimodal_streaming.py's replay test.

Determinism within a micro-batch comes from the batch operators
themselves (first-wins by ``order_by``, content-hash tiebreaks, loud
NULL/duplicate-key guards).  Across micro-batches, earlier batches win
— the same append-only contract as the daily pipeline.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import sizing
from ..sources.batch_state import dir_bytes, fold_batches, read_batches

_DIGEST_SCHEMA = "digest string"
_BAND_SCHEMA = "band int, key string"
_SEMANTIC_SCHEMA = "cell int, vector array<double>"


def _read_state(
    spark: SparkSession,
    path: str,
    schema: str,
    exclude_batch: "int | None" = None,
    no_distinct: bool = False,
) -> DataFrame:
    """The running index as a DataFrame — empty (typed) before the
    first batch commits; the shared state read
    (:func:`~smashed_spark.sources.batch_state.read_batches`) finishes
    an interrupted compaction swap and drops the partitions the
    compaction manifest lists as folded.  ``exclude_batch`` drops the
    ``batch=N`` partition from the read: a RETRIED micro-batch must
    not see its own prior attempt's index contributions, or every one
    of its docs would look like history and the re-run would emit zero
    survivors.

    Deduplication is scoped to where duplicates can actually exist —
    the per-batch read must NOT shuffle the whole history index.  The
    compacted ``batch=-1`` partition is duplicate-free by construction
    (compaction writes it from a full distinct), so it is unioned
    AS-IS, with a ``.distinct()`` over only the un-compacted tail
    partitions: O(tail) aggregation work per micro-batch instead of an
    O(history-index) exchange forever.  Rows duplicated ACROSS
    ``batch=-1`` and a tail partition (a state whose compaction
    crashed before the manifest existed) stay harmless: the exact
    path is a LEFT ANTI join and the fuzzy indicator is
    duplicate-tolerant.  ``no_distinct`` skips even the tail distinct,
    for an index whose consumers are duplicate-tolerant at every tier
    (the semantic index: max cosine is idempotent)."""
    # explicit read schema: every writer in this module lands rows
    # under a ``batch=N`` partition dir (``cell=M`` additionally for
    # the semantic index, whose partition column rides the declared
    # schema), so footer inference would be ~100 ms of driver time per
    # read for information already known
    df = read_batches(spark, path, schema)
    if "batch" not in df.columns:
        # the empty state: a distinct over it would still cost a job
        return df
    if exclude_batch is not None:
        df = df.filter(F.col("batch") != F.lit(exclude_batch))
    if no_distinct:
        return df.drop("batch")
    compacted = df.filter(F.col("batch") == -1).drop("batch")
    tail = df.filter(F.col("batch") != -1).drop("batch").distinct()
    return compacted.unionByName(tail)


def ingest_dedup_batch(
    batch: DataFrame,
    state_dir: str,
    out_dir: Optional[str],
    batch_id: int,
    text_field: str = "text",
    words_field: str = "words",
    order_by: str = "doc_id",
    fuzzy: bool = True,
    verify_threshold: Optional[float] = None,
    num_hashes: int = 16,
    shingle_size: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    semantic_centroids=None,
    semantic_threshold: float = 0.8,
    vector_field: str = "embedding",
    return_stats: bool = False,
    survivors_sink=None,
) -> "Optional[dict]":
    """Scrub ONE batch against the running indexes and commit
    survivors + index extensions under ``batch=<batch_id>`` —
    idempotent (overwrite) per batch id.  This is the foreachBatch
    body, also callable directly for a batch backfill.

    Each tier checks the batch against its index with one exact join:
    a broadcast probe, or the plain join when the index is small or
    the batch too big to broadcast, routed here once per batch.

    ``survivors_sink`` (a ``(DataFrame, batch_id) -> None`` callable,
    mutually exclusive with ``out_dir``) replaces the per-batch
    survivor directory write — the seam that lands deduped survivors
    in a governed snapshot table (streaming/snapshot_sink.py
    ``dedup_snapshot_batch_writer``) instead of ``batch=`` dirs.  The
    INDEX writes are not behind the sink and re-run on every
    delivery: they are idempotent by overwrite, and a replay that
    skipped them (because the sink's own commit already landed) would
    lose the batch's index extensions and re-admit its duplicates
    forever after.

    ``return_stats=True`` returns the per-batch numbers an ingestion
    pipeline logs: input/survivor/dropped doc counts and the index
    growth this batch commits.  ROW counts are exact; the ``*_bytes_``
    fields are the module's 32 B/digest / 36 B/band-key LOGICAL
    accounting convention (the same arithmetic as the module docstring
    and ``dedup_report``), not on-disk parquet bytes — dictionary/RLE
    encoding and compression make committed bytes smaller.
    Survivor-side counts are near-free (the survivors are already
    materialized via localCheckpoint); the input count is ONE extra
    evaluation of the micro-batch plan — bounded by the trigger, but
    skipped by default so the hot path stays single-evaluation.  Index
    GROWTH is reported instead of total index size: counting the total
    would be an O(history-index) scan per batch, the exact cost this
    module's design removes (track the running total by summing the
    deltas, or read it offline).  From the streaming entry point, pass
    ``on_stats=`` to :func:`streaming_ingest_dedup` instead of
    threading ``return_stats`` through ``batch_kwargs`` (the
    foreachBatch body has nowhere to return a value to).

    ``semantic_centroids`` (a persisted
    :func:`~smashed_spark.functions.similarity.fit_ivf_index` matrix)
    adds the third dedup family: embedding-space history dedup via
    :func:`~smashed_spark.functions.dedup.dedup_incremental_semantic`
    against a ``semantic/batch=N/cell=M/`` unit-vector index —
    cell-partitioned, so each batch reads ONLY its touched cells
    (partition pruning), and duplicate index rows are tolerated (the
    max-cosine verdict is idempotent), which is why its per-batch read
    skips even the tail distinct.  The quantizer must be the SAME
    matrix every batch: a re-fit would shift cell boundaries and make
    verdicts incomparable across batches.  Requires ``vector_field``
    on the batch.
    """
    from ..functions.dedup import (
        dedup_incremental,
        dedup_incremental_fuzzy,
        dedup_incremental_semantic,
        with_digests,
        with_minhash_bands,
        with_semantic_cells,
    )

    if (out_dir is None) == (survivors_sink is None):
        raise ValueError(
            "ingest_dedup_batch: pass exactly one of out_dir (per-batch "
            "survivor dirs) or survivors_sink (callable, e.g. a snapshot "
            "append)"
        )
    spark = batch.sparkSession
    # r17 routing refinement (guide §3.1 — broadcast the side that
    # fits): probe mode exists so the HISTORY index is never exchanged
    # once it outgrows a broadcast (~180 GB at the design point).
    # While the index is still SMALL enough that the plain join would
    # auto-broadcast it anyway (Catalyst sizes parquet relations from
    # file bytes), the probe's extra batch evaluations + two broadcast
    # builds are pure overhead — measured 1.9x on the fuzzy decision
    # plan.  The index's on-disk size is already known driver-side
    # (the same local listing the compaction sizer uses); a non-local
    # state_dir (no "://" handling here — compaction is local-FS-only
    # by the module contract anyway) or a big index keeps probe mode.
    def _small_index(name: str) -> bool:
        root = os.path.join(state_dir, name)
        if not os.path.isdir(root):
            # absent/unlistable locally: empty first-batch index (plain
            # join against an empty frame is free) — but an unlistable
            # REMOTE path must not be mistaken for empty
            return "://" not in state_dir
        return dir_bytes(root) <= _PLAIN_INDEX_MAX_BYTES
    small_exact = _small_index("digests")
    small_fuzzy = _small_index("bands")
    # ONE bounded sizing count on the RAW batch resolves probe-vs-plain
    # for BOTH operators: sizing inside the fuzzy operator would count
    # the UNMATERIALIZED exact-dedup output — re-evaluating the
    # anti-join (a second scan of the digest index) just to count
    # rows.  The raw-batch count upper-bounds the fuzzy stage's input
    # (survivors <= batch rows), so the routing is conservative in the
    # safe direction: an oversized batch exchanges instead of
    # broadcasting.  Each doc contributes ``bands`` band keys, so the
    # fuzzy cap is the key cap over ``bands``.  Skipped entirely when
    # every index in play is small (the batch size only matters for
    # probe-mode eligibility).
    if small_exact and (small_fuzzy or not fuzzy):
        probe_exact = probe_fuzzy = False
    else:
        cap = sizing.BROADCAST_KEYS
        n = sizing.capped_count(batch, cap)
        probe_exact = n <= cap and not small_exact
        probe_fuzzy = n <= max(1, cap // max(1, bands)) and not small_fuzzy
    digest_index = _read_state(
        spark,
        os.path.join(state_dir, "digests"),
        _DIGEST_SCHEMA,
        exclude_batch=batch_id,
    )
    kept = dedup_incremental(
        batch,
        digest_index,
        text_field=text_field,
        order_by=order_by,
        # bounded batch vs unbounded history: broadcast the batch's
        # digest set into an index PROBE so the history index is
        # scanned, never exchanged — the per-batch cost that must not
        # grow with history.  Above the key cap (an unbounded
        # backfill "batch") the probe would itself be an unbounded
        # broadcast, so the plain anti-join runs instead (resolved by
        # the single raw-batch sizing job above)
        broadcast_probe=probe_exact,
    )
    words_added = False
    if fuzzy:
        band_index = _read_state(
            spark,
            os.path.join(state_dir, "bands"),
            _BAND_SCHEMA,
            exclude_batch=batch_id,
        )
        if words_field not in kept.columns:
            kept = kept.withColumn(
                words_field, F.split(F.col(text_field), " ")
            )
            words_added = True
        kept = dedup_incremental_fuzzy(
            kept,
            band_index,
            words_field=words_field,
            order_by=order_by,
            num_hashes=num_hashes,
            shingle_size=shingle_size,
            bands=bands,
            rows_per_band=rows_per_band,
            verify_threshold=verify_threshold,
            broadcast_probe=probe_fuzzy,
        )
    if semantic_centroids is not None:
        # duplicate-tolerant by construction (max cosine is idempotent
        # under row duplication), so no distinct at any tier; the isin
        # on touched cells becomes partition pruning on the
        # cell-partitioned state
        sem_index = _read_state(
            spark,
            os.path.join(state_dir, "semantic"),
            _SEMANTIC_SCHEMA,
            exclude_batch=batch_id,
            no_distinct=True,
        )
        kept = dedup_incremental_semantic(
            kept,
            sem_index,
            semantic_centroids,
            vector_field=vector_field,
            order_by=order_by,
            threshold=semantic_threshold,
        )
    # one materialization feeds survivors AND both index extensions:
    # without it the (possibly expensive) dedup plan would evaluate
    # three times.  Per-batch data is bounded by the trigger, so a
    # localCheckpoint is micro-batch-sized, not history-sized.
    kept = kept.localCheckpoint(eager=True)
    tag = f"batch={batch_id}"
    # only shed the words column if THIS function derived it — a
    # words column the caller shipped is payload, not scratch
    survivors = kept.drop(words_field) if words_added else kept
    band_ext = None
    if fuzzy:
        band_ext = with_minhash_bands(
            kept,
            words_field=words_field,
            num_hashes=num_hashes,
            shingle_size=shingle_size,
            bands=bands,
            rows_per_band=rows_per_band,
        )
    sem_ext = None
    if semantic_centroids is not None:
        sem_ext = with_semantic_cells(
            kept, semantic_centroids, vector_field=vector_field
        )

    # The survivor commit and the index extensions run back-to-back
    # off the SAME materialized checkpoint.  (An r16 probe submitted
    # them from a driver thread pool to overlap write tails; same-
    # session A/B showed no win at bench scale — the four jobs are
    # each wide enough to fill the executor already, and interleaving
    # them only added scheduler churn — so sequential stands.)
    if survivors_sink is not None:
        survivors_sink(survivors, batch_id)
    else:
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, tag)
        )
    with_digests(kept, text_field=text_field).write.mode(
        "overwrite"
    ).parquet(os.path.join(state_dir, "digests", tag))
    if band_ext is not None:
        band_ext.write.mode("overwrite").parquet(
            os.path.join(state_dir, "bands", tag)
        )
    if sem_ext is not None:
        # cell partitioning is what turns the next batches' touched-
        # cell filters into partition pruning
        sem_ext.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(state_dir, "semantic", tag)
        )
    if not return_stats:
        return None
    n_in = batch.count()
    n_kept = kept.count()  # checkpointed: a cached-scan count
    stats = {
        "batch_id": batch_id,
        "n_input": n_in,
        "n_survivors": n_kept,
        "n_dropped": n_in - n_kept,
        # exact growth this batch commits (one digest per survivor)
        "index_digest_rows_added": n_kept,
        "index_digest_bytes_added": n_kept * 32,
    }
    if fuzzy:
        # band_ext derives from the checkpoint: counting it re-runs
        # only the narrow band projection, never the dedup plan
        nb = band_ext.count()
        stats["index_band_rows_added"] = nb
        stats["index_band_bytes_added"] = nb * 36
    if sem_ext is not None:
        stats["index_semantic_rows_added"] = stats["n_survivors"]
    return stats


# index size (on-disk bytes) below which the per-batch dedup joins run
# in PLAIN mode instead of broadcast-probe mode: well under Spark's
# 10 MB autoBroadcastJoinThreshold (digest/band parquet compresses
# poorly, so on-disk bytes track the relation estimate closely) — the
# plain join then auto-broadcasts the index and probe mode's extra
# batch evaluations buy nothing (r17; see ingest_dedup_batch)
_PLAIN_INDEX_MAX_BYTES = 4 * 1024 * 1024


def compact_ingest_state(
    spark: SparkSession,
    state_dir: str,
    fuzzy: bool = True,
    partitions: "int | None" = None,
    include_latest: bool = False,
) -> None:
    """Merge the per-batch index partitions into one consolidated
    ``batch=-1`` partition — the small-files compaction a long-running
    ingestion loop needs (thousands of micro-batches otherwise leave
    thousands of KB-sized parquet files per index).

    Each index folds through the staged-swap state protocol every
    on-disk store shares
    (:func:`~smashed_spark.sources.batch_state.fold_batches`; its
    module docstring walks the crash windows): the merged, distinct
    index is written to a sibling staging dir ``__compact_<index>__``
    together with a ``_folded.json`` manifest of the batch ids it
    absorbs, swapped in only if the write left ``_SUCCESS``, and the
    folded partitions are removed after.  Reads drop the partitions
    the manifest lists, so every crash window reads each index row
    once; an interrupted swap is finished by the next read or
    compaction.  The distinct here is the one place a global distinct
    is right: its output is the next duplicate-free ``batch=-1``.
    ``partitions=None`` sizes the output at ceil(folded bytes /
    128 MB) files (at least one).

    ``batch=-1`` is never a real micro-batch id, so the
    retried-batch exclusion (``exclude_batch``) keeps working after
    compaction — and the LATEST real ``batch=N`` partition is always
    left uncompacted: foreachBatch commits serially, so only the
    newest batch can be uncommitted at a crash, and folding its rows
    into ``batch=-1`` would defeat the replay exclusion (the restarted
    batch would see its own digests as history and emit zero
    survivors).  It gets merged by the NEXT compaction, once a newer
    batch exists.  Run between batches or while the stream is stopped:
    compaction and an in-flight batch writing ``batch=N`` must not
    interleave (the batch could commit its partition after compaction
    listed the directory).

    ``include_latest=True`` folds the NEWEST per-batch partition too —
    the decommissioned-checkpoint case (the snapshot landing zone's
    takeover path): the replay-exclusion reason to keep it applies
    only while its checkpoint can still redeliver that id, and a NEW
    checkpoint restarting ids at 0 instead needs the old partitions
    gone so its numbering cannot collide with theirs.  The manifest is
    emptied once the folded partitions are removed, so the new
    checkpoint's reused ids are read and folded like any other.
    """
    tables = [("digests", _DIGEST_SCHEMA), ("semantic", _SEMANTIC_SCHEMA)]
    if fuzzy:
        tables.append(("bands", _BAND_SCHEMA))
    for name, schema in tables:
        fold_batches(
            spark,
            os.path.join(state_dir, name),
            schema,
            lambda df: df.drop("batch").distinct(),
            include_latest=include_latest,
            partitions=partitions,
            # the semantic index keeps its cell partitioning: it is
            # what makes per-batch touched-cell reads prune
            partition_by="cell" if name == "semantic" else None,
        )


def streaming_ingest_dedup(
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str = "ingest_dedup",
    available_now: bool = True,
    on_stats=None,
    **batch_kwargs,
):
    """Run the ingestion-dedup composition over an unbounded document
    stream: ``foreachBatch(ingest_dedup_batch)`` with the compact
    parquet indexes as cross-batch state.  Returns the started
    ``StreamingQuery``.

    ``available_now=True`` drains the currently-available input and
    self-terminates (backfill / test mode); ``False`` runs
    continuously with the default trigger.  ``batch_kwargs`` forward
    to :func:`ingest_dedup_batch` (fuzzy banding parameters,
    ``verify_threshold``, field names).

    ``on_stats`` (a ``dict -> None`` callable) receives each batch's
    :func:`ingest_dedup_batch` stats — the streaming equivalent of
    ``return_stats=True``, whose dict a foreachBatch body has nowhere
    to return to.  It runs on the DRIVER inside the micro-batch commit
    (keep it cheap: log/emit, don't block).  Passing ``return_stats``
    through ``batch_kwargs`` is rejected loudly: it would pay the
    extra input evaluation every batch and silently discard the
    numbers.
    """
    from .runner import start_foreach_batch

    if "return_stats" in batch_kwargs:
        raise ValueError(
            "streaming_ingest_dedup: pass on_stats=<callable> instead "
            "of return_stats — foreachBatch discards the body's return "
            "value, so return_stats would cost the extra input "
            "evaluation per batch and deliver nothing"
        )

    def _body(batch: DataFrame, batch_id: int) -> None:
        stats = ingest_dedup_batch(
            batch,
            state_dir,
            out_dir,
            batch_id,
            return_stats=on_stats is not None,
            **batch_kwargs,
        )
        if on_stats is not None:
            on_stats(stats)

    return start_foreach_batch(
        stream,
        _body,
        checkpoint_dir,
        query_name,
        available_now,
        "streaming_ingest_dedup",
        "for batch data call ingest_dedup_batch directly",
    )
