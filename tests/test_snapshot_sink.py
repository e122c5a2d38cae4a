"""Exactly-once streaming appends into a snapshot table
(streaming/snapshot_sink.py): real Structured Streaming lifecycle,
replayed-batch idempotence, the crash-before-pointer window, and the
watermark surviving maintenance rewrites + vacuum.
"""

import os

import pytest


import smashed_spark.sources.snapshot as snap
from smashed_spark.sources.snapshot import (
    compact_snapshot,
    list_snapshots,
    read_snapshot,
    read_snapshot_changes,
    resolve_snapshot,
    vacuum_snapshots,
)
from smashed_spark.streaming.snapshot_sink import (
    snapshot_batch_writer,
    stream_commit_watermark,
    streaming_snapshot_append,
)


def _df(spark, lo, hi, tag="a"):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag + "_"), F.col("id")).alias("text"),
    )


def _ids(df):
    return sorted(r.doc_id for r in df.collect())


def test_streaming_append_lifecycle(spark, tmp_path):
    """Three files arrive one per micro-batch; each commits as one
    snapshot version (publish, then appends) and the incremental read
    sees exactly the post-base batches."""
    src = str(tmp_path / "src")
    for i in range(3):
        _df(spark, i * 10, i * 10 + 10).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    root = str(tmp_path / "table")
    q = streaming_snapshot_append(
        stream,
        root,
        checkpoint_dir=str(tmp_path / "ckpt"),
        app_id="app1",
        query_name="snap_sink_test",
        stats_columns=["doc_id"],
    )
    q.awaitTermination(180)
    assert not q.isActive
    assert list_snapshots(root) == [1, 2, 3]
    infos = [resolve_snapshot(root, v) for v in (1, 2, 3)]
    assert [i.operation for i in infos] == ["publish", "append", "append"]
    assert stream_commit_watermark(root) == ("app1", 2)
    assert _ids(read_snapshot(spark, root)) == list(range(30))
    # incremental consumers see only the appended batches
    changed = _ids(read_snapshot_changes(spark, root, since_version=1))
    assert len(changed) == 20 and min(changed) >= 10
    # per-file envelope stats rode along
    assert "stats" in resolve_snapshot(root).files[0]


def test_replayed_batch_is_skipped(spark, tmp_path):
    root = str(tmp_path / "table")
    commits = []
    body = snapshot_batch_writer(root, "app1", on_commit=commits.append)
    body(_df(spark, 0, 10), 0)
    body(_df(spark, 10, 20), 1)
    body(_df(spark, 10, 20), 1)  # at-least-once redelivery
    body(_df(spark, 0, 20), 0)  # stale replay from an old offset
    assert [c["skipped"] for c in commits] == [False, False, True, True]
    assert list_snapshots(root) == [1, 2]
    assert resolve_snapshot(root).row_count == 20
    assert _ids(read_snapshot(spark, root)) == list(range(20))


def test_crash_before_pointer_then_replay(spark, tmp_path, monkeypatch):
    """A batch whose pointer flip never lands is NOT committed: the
    replay re-appends, no rows duplicate, and the debris vacuums."""
    root = str(tmp_path / "table")
    body = snapshot_batch_writer(root, "app1")
    body(_df(spark, 0, 10), 0)

    real = snap._write_atomic

    def boom(path, payload, client=None):
        if path.endswith(snap.POINTER_NAME):
            raise RuntimeError("simulated crash before pointer")
        return real(path, payload, client=client)

    monkeypatch.setattr(snap, "_write_atomic", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        body(_df(spark, 10, 20), 1)
    monkeypatch.undo()

    assert stream_commit_watermark(root) == ("app1", 0)
    body(_df(spark, 10, 20), 1)  # Structured Streaming replays the id
    assert stream_commit_watermark(root) == ("app1", 1)
    assert _ids(read_snapshot(spark, root)) == list(range(20))
    report = vacuum_snapshots(root, keep_last=5, drop_unpublished=True)
    assert report["dropped_versions"] == [2]  # the orphan manifest


def test_watermark_survives_compaction_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "table")
    body = snapshot_batch_writer(root, "app1")
    body(_df(spark, 0, 10), 0)
    body(_df(spark, 10, 20), 1)
    compact_snapshot(spark, root)
    vacuum_snapshots(root, keep_last=1)  # the stream manifests are GONE
    assert list_snapshots(root) == [3]
    assert stream_commit_watermark(root) == ("app1", 1)
    commits = []
    body = snapshot_batch_writer(root, "app1", on_commit=commits.append)
    body(_df(spark, 10, 20), 1)  # replay across the rewrite: still a no-op
    assert commits[-1]["skipped"] is True
    body(_df(spark, 20, 30), 2)
    assert commits[-1]["skipped"] is False
    assert _ids(read_snapshot(spark, root)) == list(range(30))


def test_app_mismatch_raises_and_takeover(spark, tmp_path):
    root = str(tmp_path / "table")
    snapshot_batch_writer(root, "app1")(_df(spark, 0, 10), 5)
    other = snapshot_batch_writer(root, "app2")
    with pytest.raises(RuntimeError, match="stream app 'app1'"):
        other(_df(spark, 10, 20), 0)
    # takeover: batch ids restart for the new checkpoint
    taken = snapshot_batch_writer(root, "app2", takeover=True)
    taken(_df(spark, 10, 20), 0)
    assert stream_commit_watermark(root) == ("app2", 0)
    assert _ids(read_snapshot(spark, root)) == list(range(20))


def test_streaming_requires_streaming_df(spark, tmp_path):
    with pytest.raises(ValueError, match="needs a streaming DataFrame"):
        streaming_snapshot_append(
            _df(spark, 0, 5), str(tmp_path / "t"), str(tmp_path / "c"), "a"
        )


def test_restart_with_new_checkpoint_same_app_resumes(spark, tmp_path):
    """The operational restart: same app_id, fresh checkpoint whose
    batch ids restart at 0 — ids at or below the recorded watermark
    are treated as replays (documented contract: app_id identifies the
    LOGICAL stream, so a fresh checkpoint for the same app must seed
    past data only beyond the watermark)."""
    root = str(tmp_path / "table")
    body = snapshot_batch_writer(root, "app1")
    body(_df(spark, 0, 10), 0)
    body(_df(spark, 10, 20), 1)
    commits = []
    resumed = snapshot_batch_writer(root, "app1", on_commit=commits.append)
    resumed(_df(spark, 0, 10), 0)
    resumed(_df(spark, 10, 20), 1)
    resumed(_df(spark, 20, 30), 2)
    assert [c["skipped"] for c in commits] == [True, True, False]
    assert _ids(read_snapshot(spark, root)) == list(range(30))
    assert os.path.isfile(os.path.join(root, snap.POINTER_NAME))


# ---------------------------------------------------------------------------
# the one watermark gate, reached by both streaming writer tiers: the
# foreachBatch body and the registered sink's commit hook
# ---------------------------------------------------------------------------

TIERS = ["foreach_batch", "registered_sink"]


def _delivery(tier, root, commits):
    """A (df, batch_id) delivery through one writer tier as app1 —
    for the registered sink, its write and commit hooks in the order
    Spark drives them."""
    if tier == "foreach_batch":
        return snapshot_batch_writer(root, "app1", on_commit=commits.append)
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from smashed_spark.streaming.datasource import _SnapshotStreamWriter

    sink = _SnapshotStreamWriter(
        StructType.fromDDL("doc_id bigint, text string"),
        {"path": root, "appid": "app1"},
    )

    def deliver(df, batch_id):
        batches = pa.Table.from_pandas(
            df.toPandas(), preserve_index=False
        ).to_batches()
        sink.commit([sink.write(iter(batches))], batch_id)

    return deliver


@pytest.mark.parametrize("tier", TIERS)
def test_delivery_racing_its_own_replay_commits_once(
    spark, tmp_path, monkeypatch, tier
):
    """A second delivery of the same (app, batch) commits while this
    one writes its files: this delivery loses the commit race, and its
    rebase must skip — the gate checks the parent every attempt lands
    on — instead of committing the batch a second time."""
    root = str(tmp_path / "table")
    snap.publish_snapshot(_df(spark, 0, 10), root)
    commits = []
    deliver = _delivery(tier, root, commits)
    real = snap._write_files
    raced = []

    def racing(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:
            raced.append(True)
            _delivery(tier, root, [])(_df(spark, 10, 20), 1)
        return out

    monkeypatch.setattr(snap, "_write_files", racing)
    deliver(_df(spark, 10, 20), 1)
    monkeypatch.undo()
    assert raced
    assert resolve_snapshot(root).version == 2
    assert stream_commit_watermark(root) == ("app1", 1)
    assert _ids(read_snapshot(spark, root)) == list(range(20))
    if tier == "foreach_batch":
        assert [c["skipped"] for c in commits] == [True]


@pytest.mark.parametrize("tier", TIERS)
def test_one_head_manifest_read_per_micro_batch(
    spark, tmp_path, monkeypatch, tier
):
    """The gate reads the watermark off the parent the commit resolves
    anyway: a committed micro-batch reads the head manifest once.  The
    version is allocated from the head phase 1 read, so the pointer is
    read once fewer than the writer probe + phase 1 + the commit's
    re-read + the version allocation."""
    root = str(tmp_path / "table")
    snap.publish_snapshot(_df(spark, 0, 10), root)
    deliver = _delivery(tier, root, [])
    deliver(_df(spark, 10, 20), 0)
    head = snap._manifest_key(resolve_snapshot(root).version)
    real = snap._read_json
    reads = []

    def spy(path, client=None):
        reads.append(path)
        return real(path, client=client)

    monkeypatch.setattr(snap, "_read_json", spy)
    deliver(_df(spark, 20, 30), 1)
    monkeypatch.undo()
    assert resolve_snapshot(root).version == 3
    assert sum(p.endswith(head) for p in reads) == 1
    pointer_reads = sum(p.endswith(snap.POINTER_NAME) for p in reads)
    assert pointer_reads == {"foreach_batch": 3, "registered_sink": 2}[tier]


# ---------------------------------------------------------------------------
# dedup-then-append landing zone: ingest dedup composed with the
# exactly-once table commit
# ---------------------------------------------------------------------------


def _day(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


_BASE = " ".join(f"w{i}" for i in range(30))
_FRESH = " ".join(f"u{i}" for i in range(25))


def test_dedup_to_snapshot_streaming_lifecycle(spark, tmp_path):
    """Two files arrive one per micro-batch; each batch dedups against
    the running indexes and commits survivors as one table version —
    cross-batch duplicates never reach the table."""
    from smashed_spark.streaming.snapshot_sink import (
        streaming_dedup_to_snapshot,
    )

    day1 = [(0, _BASE), (1, _FRESH), (2, _BASE)]  # 2 = in-batch dup of 0
    day2 = [
        (10, _BASE),                              # exact repost of 0
        (12, " ".join(f"v{i}" for i in range(25))),
    ]
    src = str(tmp_path / "src")
    _day(spark, day1).coalesce(1).write.parquet(src + "/f1")
    _day(spark, day2).coalesce(1).write.parquet(src + "/f2")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    table = str(tmp_path / "table")
    q = streaming_dedup_to_snapshot(
        stream,
        table,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        app_id="landing",
        stats_columns=["doc_id"],
    )
    q.awaitTermination(180)
    assert not q.isActive
    assert list_snapshots(table) == [1, 2]
    got = {r.doc_id for r in read_snapshot(spark, table).collect()}
    # one of the day-1 twins survives, the day-2 repost never lands
    assert 10 not in got
    assert 1 in got and 12 in got
    assert len({0, 2} & got) == 1
    assert stream_commit_watermark(table) == ("landing", 1)
    # the index state committed alongside (exact digests per batch)
    assert os.path.isdir(os.path.join(str(tmp_path / "state"), "digests"))


def test_dedup_to_snapshot_replay_skips_table_but_rewrites_indexes(
    spark, tmp_path
):
    """At-least-once redelivery: the table must not double, but the
    dedup + index writes MUST re-run (overwrite-idempotent) — a replay
    that skipped them could lose index rows from a crash window."""
    import glob

    from smashed_spark.streaming.snapshot_sink import (
        dedup_snapshot_batch_writer,
    )

    table = str(tmp_path / "table")
    state = str(tmp_path / "state")
    body = dedup_snapshot_batch_writer(table, state, app_id="landing")
    body(_day(spark, [(0, _BASE), (1, _FRESH)]), 0)
    rows_before = resolve_snapshot(table).row_count
    digest_files = sorted(glob.glob(f"{state}/digests/batch=0/*.parquet"))
    assert rows_before == 2 and digest_files
    # wipe the batch-0 digest dir to simulate a crash AFTER the table
    # append but BEFORE the index write; the replay must restore it
    import shutil

    shutil.rmtree(f"{state}/digests/batch=0")
    body(_day(spark, [(0, _BASE), (1, _FRESH)]), 0)  # redelivery
    assert resolve_snapshot(table).row_count == rows_before  # no double
    assert list_snapshots(table) == [1]
    restored = spark.read.parquet(f"{state}/digests/batch=0")
    assert restored.count() == 2  # index extensions restored
    # and the restored index actually drops a later repost
    body(_day(spark, [(20, _BASE), (21, "zz 1")]), 1)
    got = {r.doc_id for r in read_snapshot(spark, table).collect()}
    assert 20 not in got and 21 in got


def test_ingest_dedup_batch_sink_out_dir_exclusivity(spark, tmp_path):
    from smashed_spark.streaming.ingest import ingest_dedup_batch

    with pytest.raises(ValueError, match="exactly one of out_dir"):
        ingest_dedup_batch(
            _day(spark, [(0, _BASE)]),
            str(tmp_path / "state"),
            out_dir=None,
            batch_id=0,
        )
    with pytest.raises(ValueError, match="exactly one of out_dir"):
        ingest_dedup_batch(
            _day(spark, [(0, _BASE)]),
            str(tmp_path / "state"),
            out_dir=str(tmp_path / "out"),
            batch_id=0,
            survivors_sink=lambda df, bid: None,
        )


def test_dedup_writer_on_stats_and_return_stats_guard(spark, tmp_path):
    from smashed_spark.streaming.snapshot_sink import (
        dedup_snapshot_batch_writer,
    )

    with pytest.raises(ValueError, match="on_stats"):
        dedup_snapshot_batch_writer(
            str(tmp_path / "t"), str(tmp_path / "s"), "a",
            return_stats=True,
        )(_day(spark, [(0, _BASE)]), 0)
    stats = []
    body = dedup_snapshot_batch_writer(
        str(tmp_path / "t"), str(tmp_path / "s"), "a",
        on_stats=stats.append,
    )
    body(_day(spark, [(0, _BASE), (1, _BASE)]), 0)
    assert stats[0]["n_input"] == 2 and stats[0]["n_survivors"] == 1


def test_dedup_writer_takeover_requires_compacted_state(spark, tmp_path):
    """A takeover restarts batch ids at 0 with DIFFERENT data; if the
    dead checkpoint's per-batch index dirs still exist, the restarted
    ids would hide then overwrite their same-numbered extensions and
    re-admit duplicates — refuse until compact_ingest_state folds them
    into batch=-1, then the takeover proceeds with history intact."""
    from smashed_spark.streaming.ingest import compact_ingest_state
    from smashed_spark.streaming.snapshot_sink import (
        dedup_snapshot_batch_writer,
        stream_commit_watermark,
    )

    table = str(tmp_path / "table")
    state = str(tmp_path / "state")
    old = dedup_snapshot_batch_writer(table, state, app_id="dead-ckpt")
    old(_day(spark, [(0, _BASE), (1, _FRESH)]), 0)

    new = dedup_snapshot_batch_writer(
        table, state, app_id="new-ckpt", takeover=True
    )
    with pytest.raises(RuntimeError, match="compact_ingest_state"):
        new(_day(spark, [(50, "aa bb")]), 0)
    # without takeover, a foreign app is refused BEFORE any index work
    plain = dedup_snapshot_batch_writer(table, state, app_id="new-ckpt")
    with pytest.raises(RuntimeError, match="per-checkpoint"):
        plain(_day(spark, [(50, "aa bb")]), 0)
    # remediation: fold per-batch dirs into batch=-1, takeover works
    # (include_latest — the old checkpoint is dead, so its newest
    # batch no longer needs to stay excludable for replays)
    compact_ingest_state(spark, state, include_latest=True)
    new(_day(spark, [(50, "aa bb"), (51, _BASE)]), 0)  # 51 = old dup
    assert stream_commit_watermark(table) == ("new-ckpt", 0)
    got = {r.doc_id for r in read_snapshot(spark, table).collect()}
    assert 50 in got and 51 not in got  # compacted history still drops


def test_takeover_reuses_folded_batch_ids(spark, tmp_path):
    """After a fold with include_latest=True the new checkpoint's ids
    restart at 0, reusing ids the fold absorbed.  The emptied manifest
    keeps them visible: batch 1 drops a repost of new batch 0, and the
    next compaction folds new batch 0 instead of deleting it as a
    leftover."""
    from smashed_spark.streaming.ingest import (
        _DIGEST_SCHEMA,
        _read_state,
        compact_ingest_state,
    )
    from smashed_spark.streaming.snapshot_sink import (
        dedup_snapshot_batch_writer,
    )

    table = str(tmp_path / "table")
    state = str(tmp_path / "state")
    old = dedup_snapshot_batch_writer(table, state, app_id="dead-ckpt")
    old(_day(spark, [(0, _BASE)]), 0)
    old(_day(spark, [(1, _FRESH)]), 1)
    compact_ingest_state(spark, state, include_latest=True)

    new = dedup_snapshot_batch_writer(
        table, state, app_id="new-ckpt", takeover=True
    )
    new_text = " ".join(f"n{i}" for i in range(25))
    new(_day(spark, [(50, new_text)]), 0)
    new(_day(spark, [(51, new_text), (52, "cc dd")]), 1)  # 51 = repost
    got = {r.doc_id for r in read_snapshot(spark, table).collect()}
    assert got == {0, 1, 50, 52}

    digests = os.path.join(state, "digests")
    new_batch0 = {
        r.digest
        for r in spark.read.parquet(
            os.path.join(digests, "batch=0")
        ).collect()
    }
    compact_ingest_state(spark, state)
    assert sorted(os.listdir(digests)) == ["batch=-1", "batch=1"]
    index = _read_state(spark, digests, _DIGEST_SCHEMA).collect()
    assert new_batch0 <= {r.digest for r in index}


# ---------------------------------------------------------------------------
# s3 tier (moto): the sink's watermark/idempotence machinery is
# storage-agnostic — same artifacts, same replay no-ops
# ---------------------------------------------------------------------------

BUCKET = "sinkbucket"


@pytest.fixture()
def s3():
    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")
    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=BUCKET)
        yield client


def test_s3_sink_appends_and_replays(spark, s3):
    root = f"s3://{BUCKET}/tables/stream"
    commits = []
    body = snapshot_batch_writer(
        root, "app1", stats_columns=["doc_id"],
        client=s3, on_commit=commits.append,
    )
    body(_df(spark, 0, 10), 0)
    body(_df(spark, 10, 20), 1)
    body(_df(spark, 10, 20), 1)  # redelivery: table-side no-op
    assert [c["skipped"] for c in commits] == [False, False, True]
    assert stream_commit_watermark(root, client=s3) == ("app1", 1)
    assert list_snapshots(root, client=s3) == [1, 2]
    info = resolve_snapshot(root, client=s3)
    assert info.row_count == 20 and len(info.prefixes) == 2
    assert "stats" in info.files[0]
    got = read_snapshot(
        spark, root, client=s3, allow_driver_download=True
    )
    assert _ids(got) == list(range(20))


def test_reused_state_dir_with_fresh_table_refused(spark, tmp_path):
    """Round-14 review fix: a FRESH table (no watermark app) gives the
    table-side identity check nothing to compare, but a reused
    state_dir still holds the dead checkpoint's per-batch index dirs —
    the _STATE_APP marker written alongside the index is what catches
    the collision before any index work runs."""
    from smashed_spark.streaming.ingest import compact_ingest_state
    from smashed_spark.streaming.snapshot_sink import (
        dedup_snapshot_batch_writer,
    )

    state = str(tmp_path / "state")
    old_table = str(tmp_path / "old_table")
    old = dedup_snapshot_batch_writer(old_table, state, app_id="dead-ckpt")
    old(_day(spark, [(0, _BASE), (1, _FRESH)]), 0)
    assert open(f"{state}/_STATE_APP").read() == "dead-ckpt"

    # fresh table, same state_dir: watermark app is None, marker isn't
    fresh_table = str(tmp_path / "fresh_table")
    plain = dedup_snapshot_batch_writer(fresh_table, state, app_id="new-ckpt")
    with pytest.raises(RuntimeError, match="per-checkpoint"):
        plain(_day(spark, [(50, "aa bb")]), 0)
    new = dedup_snapshot_batch_writer(
        fresh_table, state, app_id="new-ckpt", takeover=True
    )
    with pytest.raises(RuntimeError, match="compact_ingest_state"):
        new(_day(spark, [(50, "aa bb")]), 0)
    # remediation path: compacted history survives AND still dedups
    compact_ingest_state(spark, state, include_latest=True)
    new(_day(spark, [(50, "aa bb"), (51, _BASE)]), 0)  # 51 = old dup
    assert open(f"{state}/_STATE_APP").read() == "new-ckpt"
    got = {r.doc_id for r in read_snapshot(spark, fresh_table).collect()}
    assert 50 in got and 51 not in got
    # same-app crash-window redelivery still allowed (marker matches)
    new(_day(spark, [(50, "aa bb"), (51, _BASE)]), 0)
    assert resolve_snapshot(fresh_table).row_count == 1


def test_legacy_unmarked_state_dir_refused_under_fresh_table(
    spark, tmp_path
):
    """A PRE-MARKER state_dir (no _STATE_APP file) holding batch=N
    index dirs under a fresh/recreated table must refuse like a
    foreign checkpoint's — anonymous extensions would collide with the
    new checkpoint's restarted ids exactly the same way."""
    import os

    from smashed_spark.streaming.ingest import compact_ingest_state
    from smashed_spark.streaming.snapshot_sink import (
        dedup_snapshot_batch_writer,
    )

    state = str(tmp_path / "state")
    old_table = str(tmp_path / "old_table")
    old = dedup_snapshot_batch_writer(old_table, state, app_id="dead-ckpt")
    old(_day(spark, [(0, _BASE), (1, _FRESH)]), 0)
    # simulate a pre-upgrade checkpoint: the marker never existed
    os.remove(f"{state}/_STATE_APP")

    fresh_table = str(tmp_path / "fresh_table")
    plain = dedup_snapshot_batch_writer(
        fresh_table, state, app_id="new-ckpt"
    )
    with pytest.raises(RuntimeError, match="per-checkpoint"):
        plain(_day(spark, [(50, "aa bb")]), 0)
    # takeover still demands compaction first, then proceeds with the
    # anonymous history intact (old dup 51 is still caught)
    new = dedup_snapshot_batch_writer(
        fresh_table, state, app_id="new-ckpt", takeover=True
    )
    with pytest.raises(RuntimeError, match="compact_ingest_state"):
        new(_day(spark, [(50, "aa bb")]), 0)
    compact_ingest_state(spark, state, include_latest=True)
    new(_day(spark, [(50, "aa bb"), (51, _BASE)]), 0)
    got = {r.doc_id for r in read_snapshot(spark, fresh_table).collect()}
    assert got == {50}
