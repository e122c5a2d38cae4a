"""The registered ``smashed_snapshot`` Python data source
(streaming/datasource.py): light-resolver parity with the full
manifest reader, batch reads (time travel, evolution alignment,
positional-delete masking, envelope filter pushdown), the real
``readStream`` tier (bootstrap, checkpointed increments, rewrite
policy, initial=latest), and the unit-level offset protocol
(bounded batches, deterministic replay)."""

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from smashed_spark.sources.snapshot import (
    append_snapshot,
    apply_deletions_snapshot,
    compact_snapshot,
    publish_snapshot,
    read_snapshot,
    resolve_snapshot,
)
from smashed_spark.streaming.datasource import (
    SnapshotDataSource,
    _chain_versions,
    _light_resolve,
    _SnapshotBatchReaderPushdown,
    _SnapshotStreamReader,
    register_snapshot_source,
)


def _df(spark, n=100, tag="a", base=0):
    return spark.range(base, base + n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag + "_"), F.col("id")).alias("text"),
    )


def _root(tmp_path, name="table"):
    return str(tmp_path / name)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def registered(spark):
    register_snapshot_source(spark)
    return spark


# ------------------------------------------------------------------
# the light mirror vs the full resolver
# ------------------------------------------------------------------


def test_light_resolver_parity(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 50), root, stats_columns=["doc_id"])
    append_snapshot(_df(spark, 30, base=50), root)
    apply_deletions_snapshot(
        spark, root, [3, 7], "doc_id", positional=True
    )
    for version in (None, 1, 2, 3):
        full = resolve_snapshot(root, version)
        light = _light_resolve(root, version)
        assert light.version == full.version
        assert light.parent == full.parent
        assert light.operation == full.operation
        assert light.columns == full.columns
        assert [f["path"] for f in light.files] == [
            f["path"] for f in full.files
        ]
        assert [d["path"] for d in light.delete_files] == [
            d["path"] for d in (full.delete_files or [])
        ]


def test_remote_root_refused():
    with pytest.raises(NotImplementedError, match="read_snapshot_stream"):
        SnapshotDataSource({"path": "s3://bucket/t"}).schema()


# ------------------------------------------------------------------
# batch reads
# ------------------------------------------------------------------


def test_batch_read_matches_read_snapshot(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 40), root)
    append_snapshot(_df(spark, 20, tag="b", base=40), root)
    got = spark.read.format("smashed_snapshot").load(root)
    assert got.schema.simpleString() == "struct<doc_id:bigint,text:string>"
    assert _rows(got) == _rows(read_snapshot(spark, root))


def test_batch_time_travel_and_empty_filter(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 40), root)
    append_snapshot(_df(spark, 20, base=40), root)
    v1 = (
        spark.read.format("smashed_snapshot")
        .option("version", "1")
        .load(root)
    )
    assert v1.count() == 40
    # filters Spark re-applies post-scan, pushdown off
    assert (
        spark.read.format("smashed_snapshot")
        .load(root)
        .where("doc_id >= 55")
        .count()
        == 5
    )


def test_batch_read_applies_positional_deletes(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 200).repartition(4, "text"), root
    )
    apply_deletions_snapshot(
        spark, root, [5, 17, 44, 199], "doc_id", positional=True
    )
    got = spark.read.format("smashed_snapshot").load(root)
    assert got.count() == 196
    assert (
        got.where(F.col("doc_id").isin(5, 17, 44, 199)).count() == 0
    )
    assert _rows(got) == _rows(read_snapshot(spark, root))


def test_batch_read_aligns_evolved_generations(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 10).withColumn(
            "score", F.col("doc_id").cast("int")
        ),
        root,
    )
    # widen score int->bigint and add a column; old files must come
    # back upcast + null-padded
    append_snapshot(
        _df(spark, 5, base=10)
        .withColumn("score", F.col("doc_id").cast("bigint"))
        .withColumn("lang", F.lit("en")),
        root,
        evolve=True,
    )
    got = spark.read.format("smashed_snapshot").load(root)
    assert got.schema["score"].dataType.simpleString() == "bigint"
    assert _rows(got) == _rows(read_snapshot(spark, root))
    assert got.where("lang is null").count() == 10


def test_batch_filter_pushdown_prunes_files(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    # range layout: disjoint doc_id envelopes per file
    publish_snapshot(
        _df(spark, 400).repartitionByRange(4, "doc_id"),
        root,
        stats_columns=["doc_id"],
    )
    # unit level: the pushdown reader prunes partitions off envelopes
    reader = _SnapshotBatchReaderPushdown(
        StructType.fromDDL("doc_id bigint, text string"),
        {"path": root},
    )
    from pyspark.sql.datasource import GreaterThanOrEqual

    returned = reader.pushFilters(
        [GreaterThanOrEqual(("doc_id",), 390)]
    )
    # every filter reported unsupported (skip + re-filter contract)
    assert len(list(returned)) == 1
    parts = reader.partitions()
    assert 1 <= len(parts) < 4
    # end to end with the conf on
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("smashed_snapshot")
            .option("filterPushdown", "true")
            .load(root)
            .where("doc_id >= 390")
        )
        assert got.count() == 10
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


# ------------------------------------------------------------------
# offset protocol (unit level, no streaming query)
# ------------------------------------------------------------------


def _reader(root, schema="doc_id bigint, text string", **opts):
    base = {"path": root}
    base.update({k.lower(): v for k, v in opts.items()})
    return _SnapshotStreamReader(StructType.fromDDL(schema), base)


def test_stream_offsets_bootstrap_then_increment(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 40), root)
    r = _reader(root)
    assert r.initialOffset() == {"version": -1}
    end = r.latestOffset()
    assert end == {"version": 1}
    boot = r.partitions({"version": -1}, end)
    assert len(boot) == len(resolve_snapshot(root).files)
    append_snapshot(_df(spark, 20, base=40), root)
    end2 = r.latestOffset()
    assert end2 == {"version": 2}
    inc = r.partitions(end, end2)
    v1_paths = {f["path"] for f in resolve_snapshot(root, 1).files}
    assert all(p.rel_path not in v1_paths for p in inc)
    assert r.partitions(end2, end2) == []
    # deterministic replay: same range, same partitions
    assert [p.rel_path for p in r.partitions(end, end2)] == [
        p.rel_path for p in inc
    ]


def test_stream_initial_latest_skips_existing(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 40), root)
    r = _reader(root, initial="latest")
    assert r.initialOffset() == {"version": 1}


def test_stream_bounded_backlog(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10), root)
    r = _reader(root, maxVersionsPerBatch="1")
    start = r.initialOffset()
    end = r.latestOffset()
    r.partitions(start, end)  # floor = v1
    for i in range(3):
        append_snapshot(_df(spark, 5, base=100 * (i + 1)), root)
    # backlog v2..v4 drains one version per batch
    assert r.latestOffset() == {"version": 2}
    r.partitions({"version": 1}, {"version": 2})
    assert r.latestOffset() == {"version": 3}
    r.partitions({"version": 2}, {"version": 3})
    assert r.latestOffset() == {"version": 4}


def test_stream_rewrite_raises_or_resyncs(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 40), root)
    r = _reader(root)
    offset = r.latestOffset()
    append_snapshot(_df(spark, 20, base=40), root)
    compact_snapshot(spark, root, target_file_bytes=1 << 30)
    head = r.latestOffset()
    with pytest.raises(ValueError, match="rewrite"):
        r.partitions(offset, head)
    resync = _reader(root, onRewrite="full_resync")
    parts = resync.partitions(offset, head)
    assert {p.rel_path for p in parts} == {
        f["path"] for f in resolve_snapshot(root).files
    }


def test_chain_versions_stops_on_vacuumed_manifest(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10), root)
    append_snapshot(_df(spark, 5, base=10), root)
    append_snapshot(_df(spark, 5, base=15), root)
    os.remove(os.path.join(root, "_manifests", "v00000002.json"))
    head = _light_resolve(root)
    assert _chain_versions(root, head, 1) is None


# ------------------------------------------------------------------
# real streaming queries
# ------------------------------------------------------------------


def _run_available_now(spark, root, out_dir, checkpoint, **opts):
    reader = spark.readStream.format("smashed_snapshot")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(root)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_readstream_bootstrap_and_incremental_resume(
    registered, tmp_path
):
    spark = registered
    root = _root(tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 40), root)
    append_snapshot(_df(spark, 20, tag="b", base=40), root)
    _run_available_now(spark, root, out, ckpt)
    assert _rows(spark.read.parquet(out)) == _rows(
        read_snapshot(spark, root)
    )
    # nothing new: resume is a no-op
    _run_available_now(spark, root, out, ckpt)
    assert spark.read.parquet(out).count() == 60
    # two more appends, resume delivers exactly the increment
    append_snapshot(_df(spark, 5, tag="c", base=60), root)
    append_snapshot(_df(spark, 5, tag="d", base=65), root)
    _run_available_now(spark, root, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 70
    assert _rows(got) == _rows(read_snapshot(spark, root))


def test_readstream_initial_latest(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 40), root)
    _run_available_now(spark, root, out, ckpt, initial="latest")
    assert not os.path.exists(out) or not [
        f
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ] or spark.read.parquet(out).count() == 0
    append_snapshot(_df(spark, 7, tag="z", base=40), root)
    _run_available_now(spark, root, out, ckpt, initial="latest")
    got = spark.read.parquet(out)
    assert got.count() == 7
    assert got.where("text like 'z%'").count() == 7


def test_readstream_rewrite_policy_end_to_end(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 30), root)
    _run_available_now(spark, root, out, ckpt)
    append_snapshot(_df(spark, 10, base=30), root)
    compact_snapshot(spark, root, target_file_bytes=1 << 30)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="rewrite"):
        _run_available_now(spark, root, out, ckpt)
    out2 = str(tmp_path / "out2")
    ckpt2 = str(tmp_path / "ckpt2")
    # a fresh full_resync consumer sees the post-compact state
    _run_available_now(
        spark, root, out2, ckpt2, onRewrite="full_resync"
    )
    assert _rows(spark.read.parquet(out2)) == _rows(
        read_snapshot(spark, root)
    )


# ------------------------------------------------------------------
# the registered sink + append_files_snapshot
# ------------------------------------------------------------------


def _arrow_batches(spark, df):
    """The df's rows as pyarrow batches in Spark's arrow mapping —
    what the sink's write() receives from the runner."""
    import pyarrow as pa

    tbl = pa.Table.from_pandas(
        df.toPandas(), preserve_index=False
    )
    return list(tbl.to_batches())


def _writer(root, schema="doc_id bigint, text string", **opts):
    from smashed_spark.streaming.datasource import (
        _SnapshotStreamWriter,
    )

    base = {"path": root}
    base.update({k.lower(): str(v) for k, v in opts.items()})
    return _SnapshotStreamWriter(StructType.fromDDL(schema), base)


def test_append_files_snapshot_validations(spark, tmp_path):
    from smashed_spark.sources.snapshot import append_files_snapshot

    root = _root(tmp_path)
    with pytest.raises(FileNotFoundError):
        append_files_snapshot(
            root, "data/x", [], {"doc_id": "bigint"}
        )
    publish_snapshot(_df(spark, 10), root)
    with pytest.raises(ValueError, match="does not match"):
        append_files_snapshot(
            root,
            "data/x",
            [{"path": "data/x/a.parquet", "rows": 1, "bytes": 1}],
            {"doc_id": "bigint", "other": "string"},
        )
    cols = {"doc_id": "bigint", "text": "string"}
    with pytest.raises(ValueError, match="not under rel_prefix"):
        append_files_snapshot(
            root,
            "data/x",
            [{"path": "data/y/a.parquet", "rows": 1, "bytes": 1}],
            cols,
        )
    with pytest.raises(ValueError, match="rows"):
        append_files_snapshot(
            root, "data/x", [{"path": "data/x/a.parquet"}], cols
        )


def test_append_files_snapshot_refuses_transform_tables(
    spark, tmp_path
):
    from smashed_spark.sources.snapshot import append_files_snapshot

    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 10).withColumn(
            "b", F.col("doc_id").cast("string")
        ),
        root,
        partition_transforms={"bk": ("bucket", "b", 4)},
    )
    with pytest.raises(ValueError, match="partition_transforms"):
        append_files_snapshot(
            root,
            "data/x",
            [],
            {"doc_id": "bigint", "text": "string", "b": "string"},
        )


def test_sink_commit_appends_with_stats_and_watermark(
    spark, tmp_path
):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 20), root, stats_columns=["doc_id"])
    w = _writer(root, appId="appA")
    msg = w.write(iter(_arrow_batches(spark, _df(spark, 7, base=20))))
    assert msg is not None and msg.rows == 7
    assert os.path.exists(msg.staged_path)
    w.commit([msg, None], batchId=0)
    info = resolve_snapshot(root)
    assert info.operation == "append"
    assert info.row_count == 27
    assert info.properties["stream_app_id"] == "appA"
    assert info.properties["stream_batch_id"] == 0
    # staged file moved, not copied; stats inherited onto the entry
    assert not os.path.exists(msg.staged_path)
    new_entries = [
        f for f in info.files if f["path"].startswith("data/stream-")
    ]
    assert len(new_entries) == 1
    assert "doc_id" in new_entries[0]["stats"]
    assert _rows(read_snapshot(spark, root)) == _rows(
        _df(spark, 27)
    )


def test_sink_replay_skips_and_discards(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 20), root)
    w = _writer(root, appId="appA")
    w.commit(
        [w.write(iter(_arrow_batches(spark, _df(spark, 5, base=20))))],
        batchId=0,
    )
    v_after = resolve_snapshot(root).version
    # crash between sink commit and offset log: batch 0 replays
    replay = w.write(
        iter(_arrow_batches(spark, _df(spark, 5, base=20)))
    )
    w.commit([replay], batchId=0)
    assert resolve_snapshot(root).version == v_after
    assert not os.path.exists(replay.staged_path)
    assert read_snapshot(spark, root).count() == 25


def test_sink_foreign_app_refuses_unless_takeover(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10), root)
    _writer(root, appId="appA").commit(
        [_writer(root, appId="appA").write(
            iter(_arrow_batches(spark, _df(spark, 5, base=10)))
        )],
        batchId=0,
    )
    wb = _writer(root, appId="appB")
    staged = wb.write(
        iter(_arrow_batches(spark, _df(spark, 5, base=15)))
    )
    with pytest.raises(RuntimeError, match="takeover"):
        wb.commit([staged], batchId=0)
    assert not os.path.exists(staged.staged_path)
    wt = _writer(root, appId="appB", takeover="true")
    wt.commit(
        [wt.write(
            iter(_arrow_batches(spark, _df(spark, 5, base=15)))
        )],
        batchId=0,
    )
    assert read_snapshot(spark, root).count() == 20


def test_sink_empty_table_refuses_and_abort_cleans(spark, tmp_path):
    root = _root(tmp_path)
    os.makedirs(root)
    w = _writer(root)
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict(
        {"doc_id": [1], "text": ["x"]}
    )
    staged = w.write(iter([batch]))
    with pytest.raises(FileNotFoundError, match="publish"):
        w.commit([staged], batchId=0)
    staged2 = w.write(iter([batch]))
    w.abort([staged2, None], batchId=1)
    assert not os.path.exists(staged2.staged_path)
    # empty batch: no file staged, commit is a no-op
    assert w.write(iter([])) is None


def test_registered_source_to_sink_roundtrip(registered, tmp_path):
    spark = registered
    src = _root(tmp_path, "src")
    dst = _root(tmp_path, "dst")
    ckpt = str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 30), src)
    publish_snapshot(_df(spark, 0), dst)  # sink is append-only
    append_snapshot(_df(spark, 10, tag="b", base=30), src)

    def run():
        q = (
            spark.readStream.format("smashed_snapshot")
            .load(src)
            .writeStream.format("smashed_snapshot")
            .option("path", dst)
            .option("appId", "roundtrip")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert _rows(read_snapshot(spark, dst)) == _rows(
        read_snapshot(spark, src)
    )
    # incremental resume flows source appends through to the sink
    append_snapshot(_df(spark, 5, tag="c", base=40), src)
    run()
    assert _rows(read_snapshot(spark, dst)) == _rows(
        read_snapshot(spark, src)
    )
    assert read_snapshot(spark, dst).count() == 45


# ------------------------------------------------------------------
# the registered batch writer (df.write.format)
# ------------------------------------------------------------------


def test_batch_write_append_and_overwrite(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 20), root, stats_columns=["doc_id"])
    _df(spark, 10, tag="b", base=20).write.format(
        "smashed_snapshot"
    ).mode("append").save(root)
    info = resolve_snapshot(root)
    assert info.operation == "append" and info.row_count == 30
    # inherited envelope stats on the appended entries
    appended = [
        f for f in info.files if f["path"].startswith("data/append-")
    ]
    assert appended and all("doc_id" in f["stats"] for f in appended)
    assert _rows(read_snapshot(spark, root)) == _rows(
        spark.read.format("smashed_snapshot").load(root)
    )
    _df(spark, 5, tag="z").write.format("smashed_snapshot").mode(
        "overwrite"
    ).save(root)
    info = resolve_snapshot(root)
    assert info.operation == "publish" and info.row_count == 5
    # old state still on the chain for time travel
    assert read_snapshot(spark, root, version=2).count() == 30


def test_batch_write_creates_on_overwrite_refuses_on_append(
    registered, tmp_path
):
    spark = registered
    root = _root(tmp_path)
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(Exception, match="mode..overwrite"):
        _df(spark, 5).write.format("smashed_snapshot").mode(
            "append"
        ).save(root)
    _df(spark, 5).write.format("smashed_snapshot").mode(
        "overwrite"
    ).option("statsColumns", "doc_id").save(root)
    info = resolve_snapshot(root)
    assert info.version == 1 and info.row_count == 5
    assert all("doc_id" in f["stats"] for f in info.files)
    # no staging debris after a clean commit
    staging = os.path.join(root, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def test_batch_write_refused_stats_columns_leave_no_prefix(
    registered, tmp_path
):
    # statsColumns naming a column the staged files cannot serve is
    # refused before the rename into data/; the staged files go too
    spark = registered
    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 20).withColumn("score", F.col("doc_id") * 0.5), root
    )
    before = sorted(os.listdir(os.path.join(root, "data")))
    batch = _df(spark, 5, base=20).withColumn("score", F.lit(1.0))
    with pytest.raises(Exception, match="stats_columns"):
        batch.write.format("smashed_snapshot").mode("append").option(
            "statsColumns", "doc_id,score"
        ).save(root)
    assert sorted(os.listdir(os.path.join(root, "data"))) == before
    assert resolve_snapshot(root).version == 1
    staging = os.path.join(root, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


# ------------------------------------------------------------------
# staging debris lifecycle + the versionColumn CDC option
# ------------------------------------------------------------------


def test_vacuum_sweeps_stale_staging_and_stats_report(
    spark, tmp_path
):
    from smashed_spark.sources.snapshot import (
        snapshot_table_stats,
        vacuum_snapshots,
    )

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10), root)
    staging = os.path.join(root, "_staging")
    os.makedirs(staging)
    stale = os.path.join(staging, "stream-dead.parquet")
    fresh = os.path.join(staging, "stream-live.parquet")
    for p in (stale, fresh):
        with open(p, "wb") as f:
            f.write(b"x" * 10)
    os.utime(stale, (1, 1))  # crashed long ago
    stats = snapshot_table_stats(root)
    assert stats["staging_files"] == 2
    assert stats["staging_bytes"] == 20
    dry = vacuum_snapshots(root, dry_run=True)
    assert dry["dropped_staging_files"] == ["_staging/stream-dead.parquet"]
    assert os.path.exists(stale)
    report = vacuum_snapshots(root)
    assert report["dropped_staging_files"] == [
        "_staging/stream-dead.parquet"
    ]
    # the fresh file is write-in-flight shaped: kept
    assert not os.path.exists(stale) and os.path.exists(fresh)
    assert vacuum_snapshots(root, staging_ttl_s=None)[
        "dropped_staging_files"
    ] == []
    assert snapshot_table_stats(root)["staging_files"] == 1


def test_version_column_stream_and_batch(registered, tmp_path):
    spark = registered
    root = _root(tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    publish_snapshot(_df(spark, 10), root)
    append_snapshot(_df(spark, 5, base=10), root)
    _run_available_now(
        spark, root, out, ckpt, versionColumn="_commit_version"
    )
    got = spark.read.parquet(out)
    # bootstrap delivers the STATE at v2: every row tagged v2
    assert got.where("_commit_version = 2").count() == 15
    append_snapshot(_df(spark, 5, base=15), root)
    append_snapshot(_df(spark, 5, base=20), root)
    _run_available_now(
        spark, root, out, ckpt, versionColumn="_commit_version"
    )
    got = spark.read.parquet(out)
    # increments carry their own append step's version
    assert got.where("_commit_version = 3").count() == 5
    assert got.where("_commit_version = 4").count() == 5
    # batch read: state-as-of tag
    b = (
        spark.read.format("smashed_snapshot")
        .option("versionColumn", "_v")
        .load(root)
    )
    assert b.where("_v = 4").count() == 25
    # collision with a table column refuses
    with pytest.raises(Exception, match="collides"):
        spark.read.format("smashed_snapshot").option(
            "versionColumn", "text"
        ).load(root).count()
