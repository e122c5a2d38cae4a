"""Positional (merge-on-read) deletes — the O(deleted rows) tier for
tables NOT clustered by the delete key: sidecar (file, row-position)
parquet + a read-side anti-join, Iceberg's positional-delete shape on
``_metadata.row_index``.  Covers exactness, stacking, scope, schema
generations, the compact apply-and-clear, partial-rewrite refusals,
append/vacuum/restore interplay, and the moto s3 tier.
"""

import pytest

import smashed_spark.sources.snapshot as snap
from smashed_spark.sources.snapshot import (
    append_snapshot,
    apply_deletions_snapshot,
    compact_snapshot,
    merge_snapshot,
    optimize_snapshot,
    publish_snapshot,
    read_snapshot,
    resolve_snapshot,
    restore_snapshot,
    snapshot_table_stats,
    vacuum_snapshots,
)


def _df(spark, n=100, tag="a"):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag + "_"), F.col("id")).alias("text"),
    )


def _scattered(spark, n=1000, files=8):
    # hash layout: every file's envelope straddles the key space —
    # the exact regime the positional tier exists for
    return _df(spark, n).repartition(files, "text")


def _root(tmp_path):
    return str(tmp_path / "table")


def test_positional_delete_exact_and_zero_rewrites(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 1000), root,
                     stats_columns=["doc_id"])
    v1 = resolve_snapshot(root)

    info = apply_deletions_snapshot(
        spark, root, [5, 17, 444], "doc_id", positional=True
    )
    assert info.operation == "delete"
    assert info.row_count == 997
    # ZERO data files rewritten: every entry carried verbatim
    assert {f["path"] for f in info.files} == {
        f["path"] for f in v1.files
    }
    assert info.delete_files and sum(
        d["rows"] for d in info.delete_files
    ) == 3
    got = read_snapshot(spark, root)
    assert got.count() == 997
    assert got.filter("doc_id IN (5, 17, 444)").count() == 0
    # no tag columns leak to the reader
    assert set(got.columns) == {"doc_id", "text"}
    # where= pruning composes with the anti-join
    sub = read_snapshot(spark, root, where=[("doc_id", "<", 20)])
    assert sorted(r.doc_id for r in sub.collect()) == [
        i for i in range(20) if i not in (5, 17)
    ]
    stats = snapshot_table_stats(root)
    assert stats["pending_delete_files"] == 1
    assert stats["pending_delete_rows"] == 3


def test_positional_deletes_stack_and_noop(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 500), root)
    apply_deletions_snapshot(spark, root, [1, 2], "doc_id",
                             positional=True)
    info = apply_deletions_snapshot(
        spark, root, [2, 3], "doc_id", positional=True
    )
    # key 2 was already positionally deleted: only 3 is new
    assert info.row_count == 497
    assert sum(d["rows"] for d in info.delete_files) == 3
    assert len(info.delete_files) == 2  # stacked sidecars
    # all keys already gone -> no-op, no new version
    same = apply_deletions_snapshot(
        spark, root, [1, 2, 3], "doc_id", positional=True
    )
    assert same.version == info.version
    got = read_snapshot(spark, root)
    assert got.count() == 497
    assert got.filter("doc_id IN (1,2,3)").count() == 0


def test_compact_applies_and_clears_sidecars(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 600), root,
                     stats_columns=["doc_id"])
    apply_deletions_snapshot(spark, root, [10, 20, 30], "doc_id",
                             positional=True)
    info = compact_snapshot(spark, root, target_file_bytes=1 << 20)
    assert info.delete_files is None
    assert info.row_count == 597
    got = read_snapshot(spark, root)
    assert got.count() == 597
    assert got.filter("doc_id IN (10,20,30)").count() == 0
    # physical rows now match net rows (the debt is paid)
    assert sum(f["rows"] for f in info.files) == 597
    # and file-scoped (rewrite-mode) deletes work again
    d = apply_deletions_snapshot(spark, root, [40], "doc_id")
    assert d.row_count == 596


def test_partial_rewrites_refuse_under_pending_deletes(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 300), root,
                     stats_columns=["doc_id"])
    optimize_snapshot(spark, root, cluster_by=["doc_id"], bits=8,
                      num_files=4)
    apply_deletions_snapshot(spark, root, [7], "doc_id",
                             positional=True)
    with pytest.raises(RuntimeError, match="pending positional"):
        apply_deletions_snapshot(spark, root, [8], "doc_id")
    with pytest.raises(RuntimeError, match="pending positional"):
        merge_snapshot(
            spark, root, _df(spark, 2, "m"), "doc_id"
        )
    with pytest.raises(RuntimeError, match="pending positional"):
        optimize_snapshot(
            spark, root, cluster_by=["doc_id"], bits=8,
            incremental=True,
        )
    # a FULL optimize applies and clears, like compact
    info = optimize_snapshot(
        spark, root, cluster_by=["doc_id"], bits=8, num_files=4
    )
    assert info.delete_files is None and info.row_count == 299


def test_appends_carry_sidecars_and_vacuum_protects(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 400), root)
    apply_deletions_snapshot(spark, root, [100, 200], "doc_id",
                             positional=True)
    del_info = resolve_snapshot(root)
    append_snapshot(
        _df(spark, 50, "b").withColumn(
            "doc_id", snap.F.col("doc_id") + 1000
        ),
        root,
    )
    info = resolve_snapshot(root)
    assert info.row_count == 448
    assert [d["path"] for d in info.delete_files] == [
        d["path"] for d in del_info.delete_files
    ]
    got = read_snapshot(spark, root)
    assert got.count() == 448
    assert got.filter("doc_id IN (100, 200)").count() == 0
    assert got.filter("doc_id >= 1000").count() == 50
    # vacuum away the pre-append versions: the sidecar prefix is
    # referenced by the surviving manifest and must live on
    vacuum_snapshots(root, keep_last=1, drop_unpublished=True)
    got = read_snapshot(spark, root)
    assert got.count() == 448
    assert got.filter("doc_id IN (100, 200)").count() == 0


def test_scoped_positional_delete(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    df = _df(spark, 100).withColumn(
        "src", F.when(F.col("doc_id") % 2 == 0, "web").otherwise("book")
    ).repartition(4, "text")
    publish_snapshot(df, root)
    info = apply_deletions_snapshot(
        spark, root, [4, 5], "doc_id",
        scope_where=[("src", "=", "web")], positional=True,
    )
    # 4 is web (deleted); 5 is book (out of scope, survives)
    assert info.row_count == 99
    got = read_snapshot(spark, root)
    assert got.filter("doc_id = 4").count() == 0
    assert got.filter("doc_id = 5").count() == 1


def test_positional_delete_across_schema_generations(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 40, "a").coalesce(2), root)
    append_snapshot(
        _df(spark, 10, "b")
        .select((F.col("doc_id") + 100).alias("doc_id"), "text")
        .withColumn("score", F.lit(1.0)),
        root,
        evolve=True,
    )
    info = apply_deletions_snapshot(
        spark, root, [3, 105], "doc_id", positional=True
    )
    assert info.row_count == 48
    got = read_snapshot(spark, root)
    assert got.count() == 48
    assert got.filter("doc_id IN (3, 105)").count() == 0
    assert set(got.columns) == {"doc_id", "text", "score"}


def test_restore_keeps_pending_deletes(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 200), root)
    apply_deletions_snapshot(spark, root, [9], "doc_id",
                             positional=True)
    del_v = resolve_snapshot(root).version
    append_snapshot(
        _df(spark, 5, "c").withColumn(
            "doc_id", snap.F.col("doc_id") + 900
        ),
        root,
    )
    info = restore_snapshot(root, version=del_v)
    assert info.delete_files and info.row_count == 199
    got = read_snapshot(spark, root)
    assert got.count() == 199 and got.filter("doc_id = 9").count() == 0


def test_positional_delete_rebases_onto_concurrent_append(
    spark, tmp_path, monkeypatch
):
    # a positional delete COMMUTES with a pure append (its sidecar
    # references only files that existed at planning), so a lost race
    # rebases and LANDS instead of refusing — the busy-ingest table
    # doesn't quiesce its stream to forget rows
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 100), root)

    real = snap._next_version
    state = {"raced": False}

    def race(root_sp, client=None):
        out = real(root_sp, client=client)
        if not state["raced"]:
            state["raced"] = True
            append_snapshot(
                _df(spark, 2, "r").withColumn(
                    "doc_id", snap.F.col("doc_id") + 500
                ),
                root,
            )
        return out

    monkeypatch.setattr(snap, "_next_version", race)
    info = apply_deletions_snapshot(spark, root, [1], "doc_id",
                                    positional=True)
    monkeypatch.undo()
    # rebased onto the append: its 2 rows live, our 1 row forgotten
    assert info.row_count == 101
    assert info.operation == "delete"
    got = read_snapshot(spark, root)
    assert got.count() == 101
    assert got.filter("doc_id = 1").count() == 0
    assert got.filter("doc_id >= 500").count() == 2
    # write-serializable semantics: a concurrently appended row with a
    # matching key is NOT scanned by the already-planned delete
    state["raced"] = False

    def race_same_key(root_sp, client=None):
        out = real(root_sp, client=client)
        if not state["raced"]:
            state["raced"] = True
            append_snapshot(
                _df(spark, 1, "k").withColumn(
                    "doc_id", snap.F.lit(7).cast("bigint")
                ),
                root,
            )
        return out

    monkeypatch.setattr(snap, "_next_version", race_same_key)
    info = apply_deletions_snapshot(spark, root, [7], "doc_id",
                                    positional=True)
    monkeypatch.undo()
    got = read_snapshot(spark, root)
    assert got.filter("doc_id = 7").count() == 1  # the appended copy


def test_positional_delete_rewrite_race_refuses(
    spark, tmp_path, monkeypatch
):
    # a concurrent REWRITE can move the very rows the positions point
    # at — the rebase must refuse, loudly
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 100), root,
                     stats_columns=["doc_id"])

    real = snap._next_version
    state = {"raced": False}

    def race(root_sp, client=None):
        out = real(root_sp, client=client)
        if not state["raced"]:
            state["raced"] = True
            compact_snapshot(spark, root, target_file_bytes=1 << 20)
        return out

    monkeypatch.setattr(snap, "_next_version", race)
    with pytest.raises(
        RuntimeError, match=r"non-append operations \(v\d+='compact'\)"
    ):
        apply_deletions_snapshot(spark, root, [1], "doc_id",
                                 positional=True)
    monkeypatch.undo()
    # the table is untouched by the refused delete
    assert resolve_snapshot(root).row_count == 100


def test_positional_merge_zero_rewrites_and_parity(spark, tmp_path):
    from pyspark.sql import functions as F

    # the merge-on-read upsert: matched rows -> sidecar, batch ->
    # append, ONE commit, zero data files rewritten on ANY layout
    root_mor = _root(tmp_path) + "_mor"
    root_cow = _root(tmp_path) + "_cow"
    base = _scattered(spark, 300)
    publish_snapshot(base, root_mor, stats_columns=["doc_id"])
    publish_snapshot(base, root_cow, stats_columns=["doc_id"])
    v1 = resolve_snapshot(root_mor)
    batch = _df(spark, 5, "new").withColumn(
        "doc_id", F.col("doc_id") + 298
    )  # keys 298..302: 298/299 update, 300..302 insert

    info = merge_snapshot(spark, root_mor, batch, "doc_id",
                          positional=True)
    assert info.operation == "merge"
    assert info.row_count == 303
    # every parent entry carried verbatim; only NEW batch files added
    assert {f["path"] for f in v1.files} <= {
        f["path"] for f in info.files
    }
    assert sum(d["rows"] for d in info.delete_files) == 2
    # value parity with the copy-on-write merge
    merge_snapshot(spark, root_cow, batch, "doc_id")
    mor = read_snapshot(spark, root_mor)
    cow = read_snapshot(spark, root_cow)
    assert sorted(map(tuple, mor.collect())) == sorted(
        map(tuple, cow.collect())
    )
    assert mor.filter("doc_id = 298 AND text = 'new_0'").count() == 1
    # stacks with positional deletes, counts stay exact
    apply_deletions_snapshot(spark, root_mor, [299], "doc_id",
                             positional=True)
    info2 = merge_snapshot(
        spark, root_mor,
        _df(spark, 1, "again").withColumn(
            "doc_id", F.col("doc_id") + 298
        ),
        "doc_id", positional=True,
    )
    assert info2.row_count == 302
    got = read_snapshot(spark, root_mor)
    assert got.count() == 302
    assert got.filter("doc_id = 298 AND text = 'again_0'").count() == 1
    assert got.filter("doc_id = 298").count() == 1
    assert got.filter("doc_id = 299").count() == 0
    # compact pays the whole debt down and values survive
    c = compact_snapshot(spark, root_mor, target_file_bytes=1 << 20)
    assert c.delete_files is None and c.row_count == 302
    assert read_snapshot(spark, root_mor).filter(
        "doc_id = 298 AND text = 'again_0'"
    ).count() == 1


def test_positional_merge_pure_insert_and_refusals(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 50), root,
                     stats_columns=["doc_id"])
    v1 = resolve_snapshot(root)
    # no key overlap -> pure insert, no sidecar
    info = merge_snapshot(
        spark, root,
        _df(spark, 3, "ins").withColumn("doc_id",
                                        F.col("doc_id") + 1000),
        "doc_id", positional=True,
    )
    assert info.row_count == 53
    assert not info.delete_files
    assert {f["path"] for f in v1.files} <= {
        f["path"] for f in info.files
    }
    # without key stats every file is scanned: a batch key that matches
    # nothing still writes no sidecar and leaves no delete debt, so the
    # copy-on-write merge stays open afterwards
    bare = str(tmp_path / "bare")
    publish_snapshot(_scattered(spark, 50), bare)
    info = merge_snapshot(
        spark, bare,
        _df(spark, 3, "ins").withColumn("doc_id",
                                        F.col("doc_id") + 1000),
        "doc_id", positional=True,
    )
    assert info.row_count == 53
    assert not info.delete_files
    assert merge_snapshot(
        spark, bare, _df(spark, 1, "cow"), "doc_id"
    ).row_count == 53
    # the write phase itself writes no sidecar for an empty position set
    head = resolve_snapshot(bare)
    no_positions = spark.createDataFrame([], "path string, pos bigint")
    more = _df(spark, 2, "more").withColumn(
        "doc_id", F.col("doc_id") + 2000
    )
    info = snap._commit_plan(
        snap._Plan("merge_snapshot", "merge", carry=snap._CARRY_ALL,
                   expect=head),
        bare, snap._schema_of(more), more, positions=(no_positions, 0),
    )
    assert info.row_count == 55
    assert not info.delete_files
    # the shared refusals hold on the positional tier too
    with pytest.raises(ValueError, match="duplicate batch keys"):
        merge_snapshot(
            spark, root,
            _df(spark, 2, "d").withColumn("doc_id", F.lit(5)),
            "doc_id", positional=True,
        )
    with pytest.raises(ValueError, match="empty batch"):
        merge_snapshot(
            spark, root, _df(spark, 0, "e"), "doc_id", positional=True
        )


@pytest.mark.parametrize("positional", [False, True])
@pytest.mark.parametrize("column", ["score", "absent"])
def test_merge_refuses_unservable_stats_columns(
    spark, tmp_path, positional, column
):
    # an explicitly requested stats column the footers cannot serve (a
    # double, or no such column) refuses on both merge tiers instead of
    # committing new files that silently lack its envelopes
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 20).withColumn("score", F.col("doc_id") * 0.5),
        root, stats_columns=["doc_id"],
    )
    with pytest.raises(ValueError, match="stats_columns"):
        merge_snapshot(
            spark, root,
            _df(spark, 2, "m").withColumn("score", F.lit(1.0)),
            "doc_id", stats_columns=["doc_id", column],
            positional=positional,
        )
    assert resolve_snapshot(root).version == 1


@pytest.mark.parametrize("column", ["score", "absent"])
@pytest.mark.parametrize("verb", ["publish", "merge", "positional_merge"])
def test_refused_stats_columns_leave_no_prefix(spark, tmp_path, verb, column):
    # a requested stats column the new files cannot serve is refused
    # before the data write: no orphan prefix lands under data/
    import os

    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 20).withColumn("score", F.col("doc_id") * 0.5),
        root, stats_columns=["doc_id"],
    )
    before = sorted(os.listdir(os.path.join(root, "data")))
    batch = _df(spark, 2, "m").withColumn("score", F.lit(1.0))
    with pytest.raises(ValueError, match="stats_columns"):
        if verb == "publish":
            publish_snapshot(batch, root, stats_columns=["doc_id", column])
        else:
            merge_snapshot(
                spark, root, batch, "doc_id",
                stats_columns=["doc_id", column],
                positional=verb == "positional_merge",
            )
    assert sorted(os.listdir(os.path.join(root, "data"))) == before
    assert resolve_snapshot(root).version == 1


@pytest.mark.parametrize("verb", ["delete", "merge"])
def test_positional_alien_tags_refuse(spark, tmp_path, monkeypatch, verb):
    # a drift in the scan's file-path tags must fail the positional
    # writer loudly: a sidecar naming no manifest path would be ignored
    # by every read, silently resurrecting the matched rows
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 100), root,
                     stats_columns=["doc_id"])
    real = snap._scan_files

    def drifted(*args, **kwargs):
        df = real(*args, **kwargs)
        if snap._FILE_COL in df.columns:
            df = df.withColumn(
                snap._FILE_COL, F.concat(F.lit("drift/"), snap._FILE_COL)
            )
        return df

    monkeypatch.setattr(snap, "_scan_files", drifted)
    with pytest.raises(RuntimeError, match="positional tags do not match"):
        if verb == "delete":
            apply_deletions_snapshot(
                spark, root, [5, 17], "doc_id", positional=True
            )
        else:
            merge_snapshot(spark, root, _df(spark, 3, "new"), "doc_id",
                           positional=True)
    monkeypatch.undo()
    assert snap.list_snapshots(root) == [1]
    assert resolve_snapshot(root).row_count == 100


def test_sidecar_sharding_and_recommend_compact(spark, tmp_path,
                                                monkeypatch):
    root = _root(tmp_path)
    publish_snapshot(_scattered(spark, 2000), root)
    stats = snapshot_table_stats(root)
    assert stats["recommend_compact"] is False
    # force tiny shards: a 300-row sweep must fan out across files
    monkeypatch.setattr(snap, "SIDECAR_ROWS_PER_FILE", 100)
    info = apply_deletions_snapshot(
        spark, root, list(range(0, 600, 2)), "doc_id", positional=True
    )
    monkeypatch.undo()
    assert sum(d["rows"] for d in info.delete_files) == 300
    assert len(info.delete_files) >= 3  # sharded, not coalesce(1)
    got = read_snapshot(spark, root)
    assert got.count() == 1700
    assert got.filter("doc_id < 600 AND doc_id % 2 = 0").count() == 0
    # 300/2000 deleted rows > 5% physical -> pay the debt down
    stats = snapshot_table_stats(root)
    assert stats["pending_delete_rows"] == 300
    assert stats["recommend_compact"] is True
    compact_snapshot(spark, root, target_file_bytes=1 << 20)
    assert snapshot_table_stats(root)["recommend_compact"] is False


BUCKET = "smashed-test-bucket"


@pytest.fixture()
def s3():
    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")
    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=BUCKET)
        yield client


def test_s3_positional_delete_roundtrip(spark, s3):
    root = f"s3://{BUCKET}/tables/posdel"
    publish_snapshot(_scattered(spark, 150, files=3), root, client=s3)
    info = apply_deletions_snapshot(
        spark, root, [11, 12], "doc_id", positional=True,
        client=s3, allow_driver_download=True,
    )
    assert info.row_count == 148 and info.delete_files
    got = read_snapshot(
        spark, root, client=s3, allow_driver_download=True
    )
    assert got.count() == 148
    assert got.filter("doc_id IN (11, 12)").count() == 0
