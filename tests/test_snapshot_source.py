"""read_snapshot_stream: streaming consumption of a governed snapshot
table (streaming/snapshot_source.py) — checkpointed offsets, bounded
micro-batches, availableNow drain, batch==stream convergence,
at-least-once replay, the rewrite/restore policy, and the sink→source
roundtrip.
"""

import pytest

from smashed_spark.sources.snapshot import (
    append_snapshot,
    apply_deletions_snapshot,
    compact_snapshot,
    publish_snapshot,
    read_snapshot,
    resolve_snapshot,
    restore_snapshot,
)
from smashed_spark.streaming.snapshot_source import (
    read_snapshot_stream,
    read_stream_offset,
)


def _df(spark, lo, hi, tag="a"):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag + "_"), F.col("id")).alias("text"),
    )


class Sink:
    def __init__(self):
        self.batches = []

    def __call__(self, df, since, upto):
        self.batches.append(
            (since, upto, sorted(r.doc_id for r in df.collect()))
        )

    @property
    def all_ids(self):
        return sorted(i for _, _, ids in self.batches for i in ids)


def test_stream_equals_batch_across_appends(spark, tmp_path):
    # the convergence contract: the union of streamed micro-batches is
    # exactly the batch read — one batch per append version
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 10), root)
    sink = Sink()
    boot = read_snapshot_stream(spark, root, ckpt, sink)
    assert [b["status"] for b in boot["batches"]] == ["bootstrap"]
    append_snapshot(_df(spark, 10, 20, "b"), root)
    append_snapshot(_df(spark, 20, 25, "c"), root)
    append_snapshot(_df(spark, 25, 31, "d"), root)
    out = read_snapshot_stream(spark, root, ckpt, sink)
    assert [b["status"] for b in out["batches"]] == [
        "changes", "changes", "changes"
    ]
    batch_ids = sorted(
        r.doc_id for r in read_snapshot(spark, root).collect()
    )
    assert sink.all_ids == batch_ids == list(range(31))
    # per-version batches: each change batch is one append's rows
    assert [ids for _, _, ids in sink.batches[1:]] == [
        list(range(10, 20)), list(range(20, 25)), list(range(25, 31))
    ]
    assert out["version"] == resolve_snapshot(root).version
    # drained: the next poll is a no-op
    again = read_snapshot_stream(spark, root, ckpt, sink)
    assert again["batches"] == []


def test_resume_from_checkpoint_and_max_versions(spark, tmp_path):
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 5), root)
    sink = Sink()
    read_snapshot_stream(spark, root, ckpt, sink)
    assert len(sink.batches) == 1
    # four more appends, drained two versions per micro-batch
    for lo in (5, 10, 15, 20):
        append_snapshot(_df(spark, lo, lo + 5, "x"), root)
    out = read_snapshot_stream(
        spark, root, ckpt, sink, max_versions_per_batch=2
    )
    assert [b["status"] for b in out["batches"]] == ["changes"] * 2
    assert [ids for _, _, ids in sink.batches[1:]] == [
        list(range(5, 15)), list(range(15, 25))
    ]
    assert sink.all_ids == list(range(25))


def test_initial_latest_skips_existing(spark, tmp_path):
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 50), root)
    sink = Sink()
    out = read_snapshot_stream(
        spark, root, ckpt, sink, initial="latest"
    )
    assert out["batches"] == [] and sink.batches == []
    assert read_stream_offset(ckpt) == resolve_snapshot(root).version
    append_snapshot(_df(spark, 50, 53, "b"), root)
    read_snapshot_stream(spark, root, ckpt, sink, initial="latest")
    assert sink.all_ids == [50, 51, 52]


def test_at_least_once_replay_on_crash(spark, tmp_path):
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 5), root)
    boot_sink = Sink()
    read_snapshot_stream(spark, root, ckpt, boot_sink)
    boot_offset = read_stream_offset(ckpt)
    append_snapshot(_df(spark, 5, 8, "b"), root)

    def crashing(df, since, upto):
        df.collect()
        raise RuntimeError("consumer crashed mid-batch")

    with pytest.raises(RuntimeError, match="mid-batch"):
        read_snapshot_stream(spark, root, ckpt, crashing)
    # the crashed changes batch did NOT advance the offset
    assert read_stream_offset(ckpt) == boot_offset
    sink = Sink()
    out = read_snapshot_stream(spark, root, ckpt, sink)
    assert [b["status"] for b in out["batches"]] == ["changes"]
    assert sink.all_ids == [5, 6, 7]  # redelivered, nothing lost


def test_rewrite_policy_raise_and_full_resync(spark, tmp_path):
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 20), root)
    sink = Sink()
    read_snapshot_stream(spark, root, ckpt, sink)
    apply_deletions_snapshot(spark, root, [3], "doc_id",
                             positional=True)
    compact_snapshot(spark, root, target_file_bytes=1 << 20)
    with pytest.raises(ValueError, match="rewrite"):
        read_snapshot_stream(spark, root, ckpt, sink)
    out = read_snapshot_stream(
        spark, root, ckpt, sink, on_rewrite="full_resync"
    )
    assert [b["status"] for b in out["batches"]] == ["full_resync"]
    assert sink.batches[-1][2] == [i for i in range(20) if i != 3]
    # and the stream is consistent again afterwards
    append_snapshot(_df(spark, 20, 22, "b"), root)
    out = read_snapshot_stream(spark, root, ckpt, sink)
    assert [b["status"] for b in out["batches"]] == ["changes"]
    assert sink.batches[-1][2] == [20, 21]


def test_restore_interaction_surfaces_policy(spark, tmp_path):
    # a consumer resuming after restore_snapshot sees the documented
    # rewrite policy, never silence: restore commits an explicit
    # "restore" step even when it re-points at data the consumer has
    # already read
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 10), root)
    keep = resolve_snapshot(root).version
    sink = Sink()
    read_snapshot_stream(spark, root, ckpt, sink)
    append_snapshot(_df(spark, 10, 15, "b"), root)
    read_snapshot_stream(spark, root, ckpt, sink)
    assert sink.all_ids == list(range(15))
    restore_snapshot(root, version=keep)
    with pytest.raises(ValueError, match="rewrite"):
        read_snapshot_stream(spark, root, ckpt, sink)
    out = read_snapshot_stream(
        spark, root, ckpt, sink, on_rewrite="full_resync"
    )
    assert [b["status"] for b in out["batches"]] == ["full_resync"]
    # the resync is the restored (rolled-back) table, rows 0..9 only
    assert sink.batches[-1][2] == list(range(10))


def test_where_filters_every_batch(spark, tmp_path):
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 10), root,
                     stats_columns=["doc_id"])
    append_snapshot(_df(spark, 10, 20, "b"), root)
    sink = Sink()
    read_snapshot_stream(
        spark, root, ckpt, sink, where=[("doc_id", ">=", 8)]
    )
    assert sink.all_ids == list(range(8, 20))


def test_continuous_mode_and_refusals(spark, tmp_path):
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 0, 5), root)
    sink = Sink()
    out = read_snapshot_stream(
        spark, root, ckpt, sink, available_now=False, max_polls=2,
        poll_interval_s=0.05,
    )
    assert out["polls"] == 2 and len(sink.batches) == 1
    # stop() wins immediately
    out = read_snapshot_stream(
        spark, root, ckpt, sink, available_now=False,
        stop=lambda: True,
    )
    assert out["polls"] == 0 and len(sink.batches) == 1
    with pytest.raises(ValueError, match="termination signal"):
        read_snapshot_stream(
            spark, root, ckpt, sink, available_now=False
        )
    with pytest.raises(ValueError, match="initial="):
        read_snapshot_stream(spark, root, ckpt, sink, initial="nope")
    with pytest.raises(ValueError, match="on_rewrite="):
        read_snapshot_stream(spark, root, ckpt, sink,
                             on_rewrite="nope")
    with pytest.raises(ValueError, match="max_versions_per_batch"):
        read_snapshot_stream(spark, root, ckpt, sink,
                             max_versions_per_batch=0)


def test_sink_to_source_roundtrip(spark, tmp_path):
    # the full ingest→table→stream-consumer story: the exactly-once
    # sink writes micro-batches, the streaming source replays them
    # batch-for-batch downstream
    from smashed_spark.streaming.snapshot_sink import (
        snapshot_batch_writer,
    )

    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    body = snapshot_batch_writer(root, app_id="ingest-1")
    sink = Sink()
    body(_df(spark, 0, 10), 0)
    read_snapshot_stream(spark, root, ckpt, sink)
    body(_df(spark, 10, 18, "b"), 1)
    body(_df(spark, 10, 18, "b"), 1)  # replay: skipped by watermark
    body(_df(spark, 18, 30, "c"), 2)
    out = read_snapshot_stream(spark, root, ckpt, sink)
    # the replayed micro-batch committed no version, so the consumer
    # sees exactly one change batch per COMMITTED sink batch
    assert [b["status"] for b in out["batches"]] == [
        "changes", "changes"
    ]
    assert sink.all_ids == list(range(30))
    assert [ids for _, _, ids in sink.batches] == [
        list(range(10)), list(range(10, 18)), list(range(18, 30))
    ]
