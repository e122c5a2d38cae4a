"""snapshot_change_feed: durable-cursor incremental consumption of a
governed table (sources/change_feed.py) — bootstrap modes,
at-least-once replay, rewrite handling, vacuumed-cursor resync.
"""

import pytest

from smashed_spark.sources.change_feed import (
    read_feed_cursor,
    snapshot_change_feed,
)
from smashed_spark.sources.snapshot import (
    append_snapshot,
    apply_deletions_snapshot,
    publish_snapshot,
    vacuum_snapshots,
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

    def __call__(self, df, since, version):
        self.batches.append(
            (since, version, sorted(r.doc_id for r in df.collect()))
        )


def test_feed_bootstrap_and_incremental(spark, tmp_path):
    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 10), root)
    sink = Sink()

    out = snapshot_change_feed(spark, root, cur, sink)
    assert out["status"] == "bootstrap" and out["version"] == 1
    assert sink.batches == [(None, 1, list(range(10)))]
    assert read_feed_cursor(cur) == 1

    # no new commits: noop, process NOT called
    out = snapshot_change_feed(spark, root, cur, sink)
    assert out["status"] == "noop" and len(sink.batches) == 1

    # two appends drain as ONE diff batch
    append_snapshot(_df(spark, 10, 13), root)
    append_snapshot(_df(spark, 13, 15), root)
    out = snapshot_change_feed(spark, root, cur, sink)
    assert out["status"] == "changes"
    assert out["since"] == 1 and out["version"] == 3
    assert sink.batches[-1] == (1, 3, list(range(10, 15)))
    assert read_feed_cursor(cur) == 3


def test_feed_initial_latest_skips_existing(spark, tmp_path):
    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 10), root)
    sink = Sink()
    out = snapshot_change_feed(
        spark, root, cur, sink, initial="latest"
    )
    assert out["status"] == "noop" and sink.batches == []
    assert read_feed_cursor(cur) == 1
    append_snapshot(_df(spark, 10, 12), root)
    snapshot_change_feed(spark, root, cur, sink)
    assert sink.batches == [(1, 2, [10, 11])]


def test_feed_at_least_once_replay(spark, tmp_path):
    """A crash between process and the cursor write replays the SAME
    diff on the next poll — the documented at-least-once contract."""
    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 5), root)
    snapshot_change_feed(spark, root, cur, Sink())
    append_snapshot(_df(spark, 5, 8), root)

    def boom(df, since, version):
        df.collect()
        raise RuntimeError("sink crashed mid-batch")

    with pytest.raises(RuntimeError, match="sink crashed"):
        snapshot_change_feed(spark, root, cur, boom)
    assert read_feed_cursor(cur) == 1  # NOT advanced
    sink = Sink()
    out = snapshot_change_feed(spark, root, cur, sink)
    assert out["status"] == "changes"
    assert sink.batches == [(1, 2, [5, 6, 7])]  # the same diff again


def test_feed_rewrite_raises_or_resyncs(spark, tmp_path):
    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 10), root)
    snapshot_change_feed(spark, root, cur, Sink())
    apply_deletions_snapshot(spark, root, [3], "doc_id")

    with pytest.raises(ValueError, match="non-append"):
        snapshot_change_feed(spark, root, cur, Sink())
    assert read_feed_cursor(cur) == 1  # a raise never advances

    sink = Sink()
    out = snapshot_change_feed(
        spark, root, cur, sink, on_rewrite="full_resync"
    )
    assert out["status"] == "full_resync"
    assert sink.batches == [(1, 2, [i for i in range(10) if i != 3])]
    assert read_feed_cursor(cur) == 2


def test_feed_restore_surfaces_policy(spark, tmp_path):
    # a consumer resuming after restore_snapshot sees the documented
    # rewrite policy, not silence — even though the restore re-points
    # at data the consumer already processed, the rollback of the
    # in-between append means its deliveries are no longer the table
    from smashed_spark.sources.snapshot import (
        resolve_snapshot,
        restore_snapshot,
    )

    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 6), root)
    keep = resolve_snapshot(root).version
    sink = Sink()
    snapshot_change_feed(spark, root, cur, sink)
    append_snapshot(_df(spark, 6, 9), root)
    snapshot_change_feed(spark, root, cur, sink)
    assert sink.batches[-1][2] == [6, 7, 8]
    restore_snapshot(root, version=keep)
    with pytest.raises(ValueError, match="non-append"):
        snapshot_change_feed(spark, root, cur, sink)
    out = snapshot_change_feed(
        spark, root, cur, sink, on_rewrite="full_resync"
    )
    assert out["status"] == "full_resync"
    # the catch-up batch is the ROLLED-BACK table: rows 6..8 are gone
    assert sink.batches[-1][2] == list(range(6))
    # and the cursor converges with the sink watermark story: a new
    # append flows as a normal increment again
    append_snapshot(_df(spark, 9, 11), root)
    out = snapshot_change_feed(spark, root, cur, sink)
    assert out["status"] == "changes"
    assert sink.batches[-1][2] == [9, 10]


def test_feed_vacuumed_cursor_resyncs(spark, tmp_path):
    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 4), root)
    snapshot_change_feed(spark, root, cur, Sink())
    append_snapshot(_df(spark, 4, 6), root)
    append_snapshot(_df(spark, 6, 8), root)
    vacuum_snapshots(root, keep_last=1)  # the cursor's manifest is gone
    with pytest.raises(FileNotFoundError):
        snapshot_change_feed(spark, root, cur, Sink())
    sink = Sink()
    out = snapshot_change_feed(
        spark, root, cur, sink, on_rewrite="full_resync"
    )
    assert out["status"] == "full_resync"
    assert sink.batches == [(1, 3, list(range(8)))]


def test_feed_where_prunes_batches(spark, tmp_path):
    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 10), root, stats_columns=["doc_id"])
    append_snapshot(_df(spark, 10, 20), root)
    sink = Sink()
    snapshot_change_feed(
        spark, root, cur, sink, where=[("doc_id", ">=", 5)]
    )
    assert sink.batches == [(None, 2, list(range(5, 20)))]


def test_feed_arg_refusals(spark, tmp_path):
    root, cur = str(tmp_path / "t"), str(tmp_path / "cursor.json")
    publish_snapshot(_df(spark, 0, 2), root)
    with pytest.raises(ValueError, match="initial="):
        snapshot_change_feed(spark, root, cur, Sink(), initial="x")
    with pytest.raises(ValueError, match="on_rewrite="):
        snapshot_change_feed(spark, root, cur, Sink(), on_rewrite="x")
