"""Snapshot publish protocol (sources/snapshot.py): write-new-prefix +
versioned manifest + atomic pointer flip — crash windows simulated on
both the writer and reader side, local and (moto) s3 tiers.
"""

import json
import os

import pytest

import smashed_spark.sources.snapshot as snap
from smashed_spark.sources.snapshot import (
    apply_deletions_snapshot,
    compact_snapshot,
    list_snapshots,
    publish_snapshot,
    read_snapshot,
    resolve_snapshot,
    vacuum_snapshots,
)


def _df(spark, n=100, tag="a"):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag + "_"), F.col("id")).alias("text"),
    )


def _rows(df):
    return sorted((r.doc_id, r.text) for r in df.collect())


def _root(tmp_path):
    return str(tmp_path / "table")


# ---------------------------------------------------------------------------
# happy path: publish / resolve / read / time travel
# ---------------------------------------------------------------------------


def test_publish_read_roundtrip(spark, tmp_path):
    root = _root(tmp_path)
    info = publish_snapshot(_df(spark, 50), root)
    assert info.version == 1
    assert info.row_count == 50
    assert info.parent is None
    assert info.operation == "publish"
    assert all(f["bytes"] > 0 for f in info.files)
    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, 50))


def test_versions_increment_and_time_travel(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    info2 = publish_snapshot(_df(spark, 20, "b"), root)
    assert info2.version == 2
    assert info2.parent == 1
    assert list_snapshots(root) == [1, 2]
    # latest is v2; explicit version=1 still reads the old bytes
    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, 20, "b"))
    assert _rows(read_snapshot(spark, root, version=1)) == _rows(
        _df(spark, 10, "a")
    )


def test_resolve_errors(spark, tmp_path):
    root = _root(tmp_path)
    with pytest.raises(FileNotFoundError, match="no pointer"):
        resolve_snapshot(root)
    publish_snapshot(_df(spark, 5), root)
    with pytest.raises(FileNotFoundError, match="no manifest"):
        resolve_snapshot(root, version=99)


def test_reader_scans_manifest_file_list_not_prefix(spark, tmp_path):
    """Debris inside the data prefix (a file a crashed job left behind)
    must never leak into a read — the reader scans the manifest's file
    list, not the directory."""
    root = _root(tmp_path)
    info = publish_snapshot(_df(spark, 10), root)
    # drop a foreign parquet file into the published prefix
    _df(spark, 999).limit(3).write.parquet(str(tmp_path / "debris"))
    part = next(
        f
        for f in os.listdir(str(tmp_path / "debris"))
        if f.endswith(".parquet")
    )
    os.rename(
        str(tmp_path / "debris" / part),
        os.path.join(info.data_prefix, "zz-debris.parquet"),
    )
    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, 10))


# ---------------------------------------------------------------------------
# crash windows
# ---------------------------------------------------------------------------


def _shifted(spark, n, tag, by):
    from pyspark.sql import functions as F

    return _df(spark, n, tag).withColumn("doc_id", F.col("doc_id") + by)


def _crash_seed(spark, root):
    """v1 publish + v2 append: enough history for every commit verb
    (restore needs an older version to roll back to)."""
    publish_snapshot(_df(spark, 10, "a"), root)
    snap.append_snapshot(_shifted(spark, 5, "b", 100), root)


def _rows_replaced(rows, new_rows):
    ids = {r[0] for r in new_rows}
    return sorted([r for r in rows if r[0] not in ids] + new_rows)


def _append_files(spark, root):
    """The sink's shape: land parquet files under a fresh prefix first,
    then commit them with append_files_snapshot."""
    import uuid

    rel = f"{snap.DATA_DIR}/files-{uuid.uuid4().hex[:8]}"
    _shifted(spark, 3, "f", 300).coalesce(1).write.parquet(
        os.path.join(root, rel)
    )
    entries = snap._build_inventory(os.path.join(root, rel), rel, ())
    return snap.append_files_snapshot(
        root, rel, entries, {"doc_id": "bigint", "text": "string"}
    )


# every commit verb crosses the same two crash windows.  Each case is
# (run the verb, the rows it leaves given the rows before it, whether
# it writes a data prefix): publish, append, the rewrites and the
# copy-on-write delete and merge write new data, append_files lands
# its files before the call, the positional delete writes a sidecar
# prefix, the positional merge batch files plus a sidecar, and restore
# only metadata
_CRASH_VERBS = {
    "publish": (
        lambda spark, root: publish_snapshot(_df(spark, 20, "c"), root),
        lambda spark, before: _rows(_df(spark, 20, "c")),
        True,
    ),
    "append": (
        lambda spark, root: snap.append_snapshot(
            _shifted(spark, 3, "d", 200), root
        ),
        lambda spark, before: sorted(
            before + _rows(_shifted(spark, 3, "d", 200))
        ),
        True,
    ),
    "append_files": (
        _append_files,
        lambda spark, before: sorted(
            before + _rows(_shifted(spark, 3, "f", 300))
        ),
        True,
    ),
    "compact": (
        lambda spark, root: compact_snapshot(spark, root),
        lambda spark, before: before,
        True,
    ),
    "optimize": (
        lambda spark, root: snap.optimize_snapshot(
            spark, root, cluster_by=["doc_id"], num_files=2
        ),
        lambda spark, before: before,
        True,
    ),
    "delete": (
        lambda spark, root: apply_deletions_snapshot(
            spark, root, keys=[3], key_field="doc_id"
        ),
        lambda spark, before: [r for r in before if r[0] != 3],
        True,
    ),
    "merge": (
        lambda spark, root: snap.merge_snapshot(
            spark, root, _df(spark, 2, "m"), "doc_id"
        ),
        lambda spark, before: _rows_replaced(
            before, _rows(_df(spark, 2, "m"))
        ),
        True,
    ),
    "positional_delete": (
        lambda spark, root: apply_deletions_snapshot(
            spark, root, keys=[3], key_field="doc_id", positional=True
        ),
        lambda spark, before: [r for r in before if r[0] != 3],
        True,
    ),
    "positional_merge": (
        lambda spark, root: snap.merge_snapshot(
            spark, root, _df(spark, 2, "m"), "doc_id", positional=True
        ),
        lambda spark, before: _rows_replaced(
            before, _rows(_df(spark, 2, "m"))
        ),
        True,
    ),
    "restore": (
        lambda spark, root: snap.restore_snapshot(root, version=1),
        lambda spark, before: _rows(_df(spark, 10, "a")),
        False,
    ),
}


@pytest.mark.parametrize("verb", list(_CRASH_VERBS))
def test_crash_before_manifest_is_invisible_and_vacuumable(
    spark, tmp_path, monkeypatch, verb
):
    """Window 1: data prefix written, manifest never lands.  The old
    snapshot stays current; retry succeeds; vacuum sweeps the orphan."""
    run, expect, writes_data = _CRASH_VERBS[verb]
    root = _root(tmp_path)
    _crash_seed(spark, root)
    before = _rows(read_snapshot(spark, root))
    data_dir = os.path.join(root, snap.DATA_DIR)
    dirs_before = set(os.listdir(data_dir))

    real = snap._write_atomic

    def boom(path, payload, client=None):
        if snap.MANIFEST_DIR in path:
            raise RuntimeError("simulated crash before manifest")
        return real(path, payload, client=client)

    monkeypatch.setattr(snap, "_write_atomic", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(spark, root)
    monkeypatch.undo()

    # reader: unaffected
    assert resolve_snapshot(root).version == 2
    assert _rows(read_snapshot(spark, root)) == before
    assert list_snapshots(root) == [1, 2]
    # orphan prefix exists but is unreferenced
    orphans = set(os.listdir(data_dir)) - dirs_before
    assert len(orphans) == (1 if writes_data else 0)
    # retry commits cleanly (fresh token => no collision)
    info = run(spark, root)
    assert info.version == 3
    after = _rows(read_snapshot(spark, root))
    assert after == expect(spark, before)
    # default vacuum must NOT sweep the orphan prefix — from the
    # outside it is indistinguishable from a publish in flight
    report = vacuum_snapshots(root, keep_last=5)
    assert report["dropped_orphan_prefixes"] == []
    assert report["dropped_versions"] == []
    report = vacuum_snapshots(root, keep_last=5, drop_unpublished=True)
    assert report["dropped_orphan_prefixes"] == sorted(
        f"{snap.DATA_DIR}/{d}" for d in orphans
    )
    assert report["dropped_versions"] == []
    # idempotent: a second sweep finds nothing and does not raise
    report = vacuum_snapshots(root, keep_last=5, drop_unpublished=True)
    assert report["dropped_orphan_prefixes"] == []
    assert _rows(read_snapshot(spark, root)) == after


@pytest.mark.parametrize("verb", list(_CRASH_VERBS))
def test_crash_before_pointer_skips_version_and_gated_vacuum(
    spark, tmp_path, monkeypatch, verb
):
    """Window 2: manifest written, pointer never flips.  Readers stay
    on the old version; the next commit allocates PAST the orphan
    number; vacuum removes the orphan only with drop_unpublished."""
    run, expect, _ = _CRASH_VERBS[verb]
    root = _root(tmp_path)
    _crash_seed(spark, root)
    before = _rows(read_snapshot(spark, root))

    real = snap._write_atomic

    def boom(path, payload, client=None):
        if path.endswith(snap.POINTER_NAME):
            raise RuntimeError("simulated crash before pointer")
        return real(path, payload, client=client)

    monkeypatch.setattr(snap, "_write_atomic", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(spark, root)
    monkeypatch.undo()

    assert resolve_snapshot(root).version == 2
    assert _rows(read_snapshot(spark, root)) == before
    # orphan manifest visible to lister
    assert list_snapshots(root) == [1, 2, 3]
    # allocation must not reuse the orphan's number
    info = run(spark, root)
    assert info.version == 4
    assert info.parent == 2
    assert _rows(read_snapshot(spark, root)) == expect(spark, before)
    # default vacuum leaves the (possibly in-flight) orphan alone
    report = vacuum_snapshots(root, keep_last=5)
    assert report["dropped_versions"] == []
    assert 3 in list_snapshots(root)
    # explicit opt-in sweeps it
    report = vacuum_snapshots(root, keep_last=5, drop_unpublished=True)
    assert report["dropped_versions"] == [3]
    assert list_snapshots(root) == [1, 2, 4]
    assert _rows(read_snapshot(spark, root)) == expect(spark, before)


def test_reader_between_manifest_and_pointer_sees_old_version(
    spark, tmp_path, monkeypatch
):
    """Reader side of window 2: a resolve racing the publish — after
    the manifest exists but before the flip — returns the OLD
    snapshot in full."""
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)

    real = snap._write_atomic
    seen = {}

    def spy(path, payload, client=None):
        if path.endswith(snap.POINTER_NAME) and "version" not in seen:
            # the moment before the flip: manifest v2 is durable
            info = resolve_snapshot(root)
            seen["version"] = info.version
            seen["rows"] = _rows(read_snapshot(spark, root))
        return real(path, payload, client=client)

    monkeypatch.setattr(snap, "_write_atomic", spy)
    publish_snapshot(_df(spark, 20, "b"), root)
    assert seen["version"] == 1
    assert seen["rows"] == _rows(_df(spark, 10, "a"))
    assert resolve_snapshot(root).version == 2


def test_concurrent_writer_detected_at_flip(spark, tmp_path, monkeypatch):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)

    real = snap._write_data_prefix
    state = {"racing": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(df, root_sp, rel_prefix, compression, client=client, **kw)
        if not state["racing"]:
            state["racing"] = True
            publish_snapshot(_df(spark, 5, "other"), str(root_sp))
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        publish_snapshot(_df(spark, 20, "b"), root)
    # the racer's snapshot is the current one, untouched
    monkeypatch.undo()
    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, 5, "other"))


def test_concurrent_appends_rebase_and_both_land(spark, tmp_path, monkeypatch):
    """Append commits commute: when a second append flips the pointer
    mid-commit, the loser rebases (new parent, new version, SAME data
    prefix) instead of raising — both batches land, linearized."""
    from pyspark.sql.functions import col as F_col

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a").coalesce(1), root)

    real = snap._write_data_prefix
    state = {"racing": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if not state["racing"]:
            state["racing"] = True
            # competitor lands a whole append while ours is mid-write
            snap.append_snapshot(
                _df(spark, 5, "other").select(
                    (F_col("doc_id") + 100).alias("doc_id"), "text"
                ).coalesce(1),
                str(root_sp),
            )
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    info = snap.append_snapshot(
        _df(spark, 20, "b").select(
            (F_col("doc_id") + 200).alias("doc_id"), "text"
        ).coalesce(1),
        root,
    )
    monkeypatch.undo()
    # linearized: v1 publish, v2 competitor, our rebased commit last
    assert info.version == snap.list_snapshots(root)[-1]
    assert info.parent == 2 and info.row_count == 35
    got = {r[0] for r in _rows(read_snapshot(spark, root))}
    assert got == (
        set(range(10)) | set(range(100, 105)) | set(range(200, 220))
    )
    # the loser's first-attempt manifest (if any) is off-chain debris;
    # vacuum with drop_unpublished sweeps it without touching data
    vacuum_snapshots(root, keep_last=10, drop_unpublished=True)
    assert read_snapshot(spark, root).count() == 35


def test_concurrent_rewrite_still_refuses(spark, tmp_path, monkeypatch):
    """Only appends rebase: a delete racing an append keeps the loud
    single-writer refusal (a rebased rewrite would drop the concurrent
    commit's rows)."""
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a").coalesce(1), root)

    real = snap._write_data_prefix
    state = {"racing": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if not state["racing"]:
            state["racing"] = True
            snap.append_snapshot(_df(spark, 5, "b").coalesce(1), str(root_sp))
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        apply_deletions_snapshot(spark, root, keys=[3], key_field="doc_id")


# ---------------------------------------------------------------------------
# vacuum
# ---------------------------------------------------------------------------


def test_vacuum_keep_last(spark, tmp_path):
    root = _root(tmp_path)
    for i, tag in enumerate(["a", "b", "c", "d"], start=1):
        publish_snapshot(_df(spark, 10 * i, tag), root)
    report = vacuum_snapshots(root, keep_last=2)
    assert report["dropped_versions"] == [1, 2]
    assert report["kept"] == [3, 4]
    assert list_snapshots(root) == [3, 4]
    with pytest.raises(FileNotFoundError):
        resolve_snapshot(root, version=1)
    assert _rows(read_snapshot(spark, root, version=3)) == _rows(
        _df(spark, 30, "c")
    )
    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, 40, "d"))
    # current survives even keep_last=1
    report = vacuum_snapshots(root, keep_last=1)
    assert list_snapshots(root) == [4]
    with pytest.raises(ValueError, match="keep_last"):
        vacuum_snapshots(root, keep_last=0)


# ---------------------------------------------------------------------------
# composed maintenance: compaction + deletions as publishes
# ---------------------------------------------------------------------------


def test_compact_snapshot(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 2000, "a").repartition(16), root)
    before = resolve_snapshot(root)
    assert len(before.files) >= 16
    info = compact_snapshot(spark, root, target_file_bytes=256 << 20)
    assert info.version == 2
    assert info.operation == "compact"
    assert len(info.files) < len(before.files)
    assert info.row_count == before.row_count
    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, 2000, "a"))
    # the compacted-away version is still time-travelable until vacuum
    assert len(resolve_snapshot(root, version=1).files) == len(before.files)


def test_incremental_optimize_rewrites_only_new_files(spark, tmp_path):
    """Daily-maintenance Z-order: after a full optimize, an
    incremental pass reads ONLY the files later commits added (under
    the persisted bounds), carries every clustered entry verbatim,
    and marks its output clustered so the next pass skips it too."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 200, "a").repartition(2), root,
        stats_columns=["doc_id"],
    )
    full = snap.optimize_snapshot(
        spark, root, cluster_by=["doc_id"], bits=8, num_files=2,
        stats_columns=["doc_id"],
    )
    assert all(f.get("clustered") for f in full.files if f.get("rows"))
    assert "zorder_bounds" in full.properties

    snap.append_snapshot(
        _df(spark, 50, "b")
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        .coalesce(1),
        root,
        stats_columns=["doc_id"],
    )
    before = resolve_snapshot(root)
    clustered_before = [f for f in before.files if f.get("clustered")]

    inc = snap.optimize_snapshot(
        spark, root, cluster_by=["doc_id"], bits=8, num_files=1,
        incremental=True, stats_columns=["doc_id"],
    )
    # every previously-clustered entry rides verbatim; only the
    # appended file was rewritten (and is now clustered itself)
    for f in clustered_before:
        assert f in inc.files
    new_files = [f for f in inc.files if f not in before.files]
    assert new_files and all(f.get("clustered") for f in new_files)
    assert inc.row_count == before.row_count
    got = {r[0] for r in _rows(read_snapshot(spark, root))}
    assert got == set(range(200)) | set(range(1000, 1050))

    # nothing unclustered left: a second incremental pass is a no-op
    # (same version back, no new commit)
    again = snap.optimize_snapshot(
        spark, root, cluster_by=["doc_id"], bits=8, incremental=True
    )
    assert again.version == inc.version

    # a delete-survivor rewrite is unclustered — the next incremental
    # pass picks exactly it up
    apply_deletions_snapshot(
        spark, root, keys=[5], key_field="doc_id",
        stats_columns=["doc_id"],
    )
    after_del = resolve_snapshot(root)
    assert any(not f.get("clustered") for f in after_del.files)
    inc2 = snap.optimize_snapshot(
        spark, root, cluster_by=["doc_id"], bits=8, num_files=1,
        incremental=True, stats_columns=["doc_id"],
    )
    assert all(
        f.get("clustered") for f in inc2.files if f.get("rows")
    )
    assert inc2.row_count == before.row_count - 1

    # contract refusals: changed clustering or missing bounds
    with pytest.raises(ValueError, match="incomparable"):
        snap.optimize_snapshot(
            spark, root, cluster_by=["doc_id"], bits=10,
            incremental=True,
        )
    fresh = str(tmp_path / "fresh")
    publish_snapshot(_df(spark, 10, "a"), fresh)
    with pytest.raises(ValueError, match="full optimize first"):
        snap.optimize_snapshot(
            spark, fresh, cluster_by=["doc_id"], incremental=True
        )


def test_apply_deletions_snapshot(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 100, "a"), root)
    info = apply_deletions_snapshot(
        spark, root, keys=[0, 7, 99], key_field="doc_id"
    )
    assert info.version == 2
    assert info.operation == "delete"
    assert info.row_count == 97
    got = _rows(read_snapshot(spark, root))
    assert {r[0] for r in got} == set(range(100)) - {0, 7, 99}


def test_delete_scoped_carries_untouched_files_verbatim(spark, tmp_path):
    """The file-scoped forget-list rewrite: only files whose doc_id
    envelope can contain a forget key are rewritten; every other file
    entry (stats included) rides into the new manifest verbatim."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    lo = _df(spark, 100, "a").coalesce(1)  # doc_id 0..99
    hi = (
        _df(spark, 100, "b")
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        .coalesce(1)
    )  # doc_id 1000..1099
    publish_snapshot(lo, root, stats_columns=["doc_id"])
    snap.append_snapshot(hi, root, stats_columns=["doc_id"])
    before = resolve_snapshot(root)
    assert len(before.files) == 2
    lo_entry = next(
        f for f in before.files if f["stats"]["doc_id"]["min"] == 0
    )

    info = apply_deletions_snapshot(
        spark, root, keys=[1005, 1017], key_field="doc_id",
        stats_columns=["doc_id"],
    )
    assert info.version == 3 and info.operation == "delete"
    assert info.row_count == 198
    # the low file was provably untouchable: entry carried verbatim
    assert lo_entry in info.files
    # and exactly one new file (the hi rewrite) joined the manifest
    new_files = [f for f in info.files if f not in before.files]
    assert len(new_files) == 1
    assert info.prefixes == sorted(
        {"/".join(f["path"].split("/")[:2]) for f in info.files}
    )
    got = {r[0] for r in _rows(read_snapshot(spark, root))}
    assert got == (set(range(100)) | set(range(1000, 1100))) - {1005, 1017}


def test_delete_noop_when_envelopes_prove_absent(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 50, "a").coalesce(1), root, stats_columns=["doc_id"]
    )
    before = resolve_snapshot(root)
    info = apply_deletions_snapshot(
        spark, root, keys=[5000, 6000], key_field="doc_id"
    )
    # nothing could match: no new version committed, same snapshot back
    assert info.version == before.version
    assert list_snapshots(root) == [1]


@pytest.mark.parametrize("stats", [["doc_id"], []], ids=["stats", "bare"])
def test_delete_empty_key_frame_commits_nothing(spark, tmp_path, stats):
    """An empty forget DataFrame is a no-op whether or not envelope
    stats could prune: without them every file would be 'touched', and
    the rewrite must still not commit an unchanged 'delete' version."""
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root, stats_columns=stats)
    before = resolve_snapshot(root)
    empty = spark.createDataFrame([], "doc_id bigint")
    info = apply_deletions_snapshot(
        spark, root, keys=empty, key_field="doc_id"
    )
    assert info.version == before.version
    assert list_snapshots(root) == [1]


def test_delete_range_prune_path_for_big_key_df(spark, tmp_path):
    """Keys above prune_collect_cap degrade to min/max range pruning —
    still file-scoped when the key range misses a file's envelope."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    lo = _df(spark, 100, "a").coalesce(1)
    hi = (
        _df(spark, 100, "b")
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        .coalesce(1)
    )
    publish_snapshot(lo, root, stats_columns=["doc_id"])
    snap.append_snapshot(hi, root, stats_columns=["doc_id"])
    before = resolve_snapshot(root)
    lo_entry = next(
        f for f in before.files if f["stats"]["doc_id"]["min"] == 0
    )
    keys = spark.range(1005, 1008).select(F.col("id").alias("doc_id"))
    info = apply_deletions_snapshot(
        spark, root, keys=keys, key_field="doc_id",
        prune_collect_cap=0, stats_columns=["doc_id"],
    )
    assert lo_entry in info.files
    assert info.row_count == 197


def test_delete_scope_where_limits_blast_radius(spark, tmp_path):
    """scope_where: a forget key only dies inside the scope; the same
    key outside it survives, and duplicate forget keys don't fan out
    surviving rows through the marker join."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 10, "a").otherwise("b").alias("part"),
    )
    publish_snapshot(df, root, stats_columns=["doc_id"])
    info = apply_deletions_snapshot(
        spark,
        root,
        keys=[5, 5, 15],  # 15 is in part 'b': out of scope, survives
        key_field="doc_id",
        scope_where=[("part", "=", "a")],
    )
    got = sorted(
        (r.doc_id, r.part) for r in read_snapshot(spark, root).collect()
    )
    assert got == sorted(
        (i, "a" if i < 10 else "b") for i in range(20) if i != 5
    )
    assert info.row_count == 19


def test_delete_scoped_equals_full_rewrite(spark, tmp_path):
    """A/B: the scoped path and the stats-less full-rewrite path agree
    on the surviving row set."""
    roots = [str(tmp_path / "scoped"), str(tmp_path / "full")]
    for root, stats in zip(roots, (["doc_id"], [])):
        publish_snapshot(
            _df(spark, 500, "a").repartition(8), root,
            stats_columns=stats,
        )
        apply_deletions_snapshot(
            spark, root, keys=[3, 77, 401], key_field="doc_id"
        )
    a, b = (_rows(read_snapshot(spark, r)) for r in roots)
    assert a == b and len(a) == 497


def test_apply_deletions_snapshot_refusals(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    with pytest.raises(ValueError, match="empty forget list"):
        apply_deletions_snapshot(spark, root, keys=[], key_field="doc_id")
    with pytest.raises(ValueError, match="not in snapshot columns"):
        apply_deletions_snapshot(spark, root, keys=[1], key_field="nope")
    null_keys = spark.createDataFrame(
        [(1,), (None,)], schema="doc_id bigint"
    )
    with pytest.raises(ValueError, match="NULL forget key"):
        apply_deletions_snapshot(
            spark, root, keys=null_keys, key_field="doc_id"
        )
    # r16: the refusal has two routes — the head probe serves it for
    # under-cap forget sets (above), a dedicated NULL scan for
    # over-cap sets.  Force the over-cap route with cap=0.
    with pytest.raises(ValueError, match="NULL forget key"):
        apply_deletions_snapshot(
            spark,
            root,
            keys=null_keys,
            key_field="doc_id",
            prune_collect_cap=0,
        )


# ---------------------------------------------------------------------------
# s3 tier (moto): same protocol, same artifacts.  importorskip lives
# INSIDE the fixture: a module-level skip would silently disable the
# local-tier tests above on a moto-less machine.
# ---------------------------------------------------------------------------

BUCKET = "snapbucket"


@pytest.fixture()
def s3():
    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")
    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=BUCKET)
        yield client


def _s3_root():
    return f"s3://{BUCKET}/tables/docs"


def test_s3_publish_resolve_and_pointer(spark, s3):
    root = _s3_root()
    info = publish_snapshot(_df(spark, 40, "a"), root, client=s3)
    assert info.version == 1
    assert info.row_count == 40
    info2 = publish_snapshot(_df(spark, 60, "b"), root, client=s3)
    assert info2.version == 2 and info2.parent == 1
    assert list_snapshots(root, client=s3) == [1, 2]
    # the pointer object is real, tiny JSON
    body = s3.get_object(
        Bucket=BUCKET, Key="tables/docs/_latest.json"
    )["Body"].read()
    assert json.loads(body)["version"] == 2
    # resolve is pure GETs and yields fully-qualified s3 paths
    cur = resolve_snapshot(root, client=s3)
    assert cur.version == 2
    assert all(p.startswith("s3://") for p in cur.file_paths)


def test_s3_read_requires_connector_or_download(spark, s3):
    root = _s3_root()
    publish_snapshot(_df(spark, 25, "a"), root, client=s3)
    with pytest.raises(NotImplementedError, match="s3 Hadoop connector"):
        read_snapshot(spark, root, client=s3)
    got = read_snapshot(
        spark, root, client=s3, allow_driver_download=True
    )
    assert _rows(got) == _rows(_df(spark, 25, "a"))


def test_s3_manifest_tier_equality(spark, s3, tmp_path):
    """The manifest an s3 publish writes is structurally identical to
    the local tier's for the same data: same version, same per-file
    inventory shape, same row count."""
    df = _df(spark, 30, "x").coalesce(1)
    local_info = publish_snapshot(df, _root(tmp_path))
    s3_info = publish_snapshot(df, _s3_root(), client=s3)
    assert local_info.version == s3_info.version == 1
    assert local_info.row_count == s3_info.row_count == 30
    assert len(local_info.files) == len(s3_info.files) == 1
    assert set(local_info.files[0]) == set(s3_info.files[0]) == {
        "path",
        "bytes",
        "rows",
    }
    assert local_info.files[0]["rows"] == s3_info.files[0]["rows"] == 30


def test_s3_vacuum_and_composed_maintenance(spark, s3):
    root = _s3_root()
    publish_snapshot(_df(spark, 200, "a").repartition(8), root, client=s3)
    info = compact_snapshot(
        spark,
        root,
        target_file_bytes=256 << 20,
        client=s3,
        allow_driver_download=True,
    )
    assert info.version == 2 and info.row_count == 200
    info = apply_deletions_snapshot(
        spark,
        root,
        keys=[5, 6],
        key_field="doc_id",
        client=s3,
        allow_driver_download=True,
    )
    assert info.version == 3 and info.row_count == 198
    report = vacuum_snapshots(root, keep_last=1, client=s3)
    assert report["dropped_versions"] == [1, 2]
    assert list_snapshots(root, client=s3) == [3]
    got = read_snapshot(
        spark, root, client=s3, allow_driver_download=True
    )
    assert {r.doc_id for r in got.collect()} == set(range(200)) - {5, 6}


def test_optimize_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    from smashed_spark.sources.layout import scan_stats, skip_fraction
    from smashed_spark.sources.snapshot import optimize_snapshot

    root = _root(tmp_path)
    # value column scattered across input partitions so the naive
    # layout has wide per-file envelopes
    df = (
        spark.range(4000)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") * 37 % 1000).alias("n_chars"),
        )
        .repartition(8)
    )
    publish_snapshot(df, root)
    info = optimize_snapshot(
        spark, root, cluster_by=["n_chars", "doc_id"], bits=10, num_files=8
    )
    assert info.version == 2
    assert info.operation == "optimize"
    assert info.row_count == 4000
    # the fitted bounds ride the manifest so the NEXT optimize can
    # keep Z-keys append-stable — and they survive a JSON roundtrip
    props = resolve_snapshot(root).properties
    assert props["zorder_bits"] == 10
    assert props["cluster_by"] == ["n_chars", "doc_id"]
    assert props["zorder_bounds"]["doc_id"] == [0, 3999]
    got = read_snapshot(spark, root)
    assert "zkey" not in got.columns
    assert sorted(r.doc_id for r in got.collect()) == list(range(4000))
    # the clustered copy must actually skip better than the naive one
    naive = resolve_snapshot(root, version=1)
    f_naive = skip_fraction(
        scan_stats(spark, naive.data_prefix, ["n_chars"]),
        "n_chars", lower=100, upper=200,
    )["row_skip_fraction"]
    f_clustered = skip_fraction(
        scan_stats(spark, info.data_prefix, ["n_chars"]),
        "n_chars", lower=100, upper=200,
    )["row_skip_fraction"]
    # 2-D Morton envelopes at 8 files cap the skip well below 1.0
    # (~sqrt geometry — layout.py's 64^(-1/2) note); the claim is the
    # separation vs naive, not an absolute
    assert f_clustered > max(f_naive, 0.3)

    # keep_zorder_column tier + already-keyed refusal
    info3 = optimize_snapshot(
        spark, root, cluster_by=["n_chars"], bits=8,
        keep_zorder_column=True,
    )
    assert "zkey" in read_snapshot(spark, root).columns
    with pytest.raises(ValueError, match="already has a 'zkey'"):
        optimize_snapshot(spark, root, cluster_by=["n_chars"], bits=8)
    assert info3.version == 3


# ---------------------------------------------------------------------------
# appends (manifest spec 2): O(new data) publishes, shared prefixes
# ---------------------------------------------------------------------------


def test_append_snapshot_carries_parent_files(spark, tmp_path):
    root = _root(tmp_path)
    v1 = publish_snapshot(_df(spark, 10, "a").coalesce(1), root)
    v2 = snap.append_snapshot(_df(spark, 5, "b").coalesce(1), root)
    assert v2.version == 2 and v2.operation == "append"
    assert v2.row_count == 15
    # the parent's file entry rides verbatim: appends are O(new data)
    assert v1.files[0] in v2.files
    assert len(v2.files) == 2
    assert len(v2.prefixes) == 2
    got = _rows(read_snapshot(spark, root))
    assert got == sorted(_rows(_df(spark, 10, "a")) + _rows(_df(spark, 5, "b")))
    # time travel still sees only the base
    assert _rows(read_snapshot(spark, root, version=1)) == _rows(
        _df(spark, 10, "a")
    )


def test_append_to_empty_table_refused(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="first write is a publish"):
        snap.append_snapshot(_df(spark, 5), _root(tmp_path))


def test_vacuum_never_sweeps_shared_append_prefix(spark, tmp_path):
    """Dropping an old append-chain version must not delete a data
    prefix the CURRENT snapshot still lists files under."""
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a").coalesce(1), root)
    snap.append_snapshot(_df(spark, 5, "b").coalesce(1), root)
    snap.append_snapshot(_df(spark, 3, "c").coalesce(1), root)
    report = vacuum_snapshots(root, keep_last=1)
    assert report["dropped_versions"] == [1, 2]
    # v1/v2's prefixes are SHARED with v3 — all 15+3 rows must survive
    got = _rows(read_snapshot(spark, root))
    assert len(got) == 18
    # and all three data prefixes still exist on disk
    assert len(os.listdir(os.path.join(root, snap.DATA_DIR))) == 3


def test_vacuum_sweeps_prefix_once_rewrite_abandons_it(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a").coalesce(1), root)
    snap.append_snapshot(_df(spark, 5, "b").coalesce(1), root)
    # a full rewrite (compact) stops referencing the old prefixes
    compact_snapshot(spark, root)
    report = vacuum_snapshots(root, keep_last=1)
    assert report["dropped_versions"] == [1, 2]
    assert len(os.listdir(os.path.join(root, snap.DATA_DIR))) == 1
    assert len(_rows(read_snapshot(spark, root))) == 15


def test_spec1_manifest_still_resolves(spark, tmp_path):
    """Back-compat: a spec-1 manifest (single prefix, prefix-relative
    paths, no 'prefixes' key) resolves and reads."""
    root = _root(tmp_path)
    info = publish_snapshot(_df(spark, 8, "a"), root)
    mpath = os.path.join(root, snap._manifest_key(1))
    doc = json.load(open(mpath))
    rel_prefix = doc["data_prefix"]
    del doc["prefixes"]
    doc.pop("spec", None)
    for f in doc["files"]:
        assert f["path"].startswith(rel_prefix + "/")
        f["path"] = f["path"][len(rel_prefix) + 1:]
        f.pop("rows", None)
    with open(mpath, "w") as fh:
        json.dump(doc, fh)
    got = resolve_snapshot(root)
    assert got.prefixes == [rel_prefix]
    assert got.file_paths == info.file_paths
    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, 8, "a"))


# ---------------------------------------------------------------------------
# envelope stats + file skipping
# ---------------------------------------------------------------------------


def _stats_df(spark, lo, hi, tag="a"):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(tag), F.col("id")).alias("text"),
            (F.col("id") % 2 == 0).alias("even"),
        )
        .coalesce(1)
    )


def test_publish_collects_envelope_stats(spark, tmp_path):
    root = _root(tmp_path)
    info = publish_snapshot(
        _stats_df(spark, 0, 100), root,
        stats_columns=["doc_id", "text", "even"],
    )
    st = info.files[0]["stats"]
    assert st["doc_id"] == {"kind": "int", "min": 0, "max": 99, "nulls": 0}
    assert st["text"]["kind"] == "str" and st["text"]["min"] == "a0"
    assert st["even"] == {"kind": "bool", "min": False, "max": True,
                          "nulls": 0}
    # stats survive the JSON roundtrip with types intact
    again = resolve_snapshot(root)
    assert again.files[0]["stats"] == st


def test_stats_refuse_float_and_missing_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    df = spark.range(5).select(
        F.col("id").alias("doc_id"), F.rand(7).alias("score")
    )
    with pytest.raises(Exception, match="NaN-blind"):
        publish_snapshot(df, root, stats_columns=["score"])
    with pytest.raises(Exception, match="not in schema"):
        publish_snapshot(df, root + "2", stats_columns=["nope"])


def test_plan_snapshot_scan_prunes_disjoint_appends(spark, tmp_path):
    from smashed_spark.sources.snapshot import plan_snapshot_scan

    root = _root(tmp_path)
    publish_snapshot(
        _stats_df(spark, 0, 100), root, stats_columns=["doc_id"]
    )
    snap.append_snapshot(
        _stats_df(spark, 100, 200, "b"), root, stats_columns=["doc_id"]
    )
    snap.append_snapshot(
        _stats_df(spark, 200, 300, "c"), root, stats_columns=["doc_id"]
    )
    info = resolve_snapshot(root)
    assert len(info.files) == 3
    plan = plan_snapshot_scan(info, [("doc_id", ">=", 205)])
    assert plan["files_kept"] == 1 and plan["files_skipped"] == 2
    plan = plan_snapshot_scan(info, [("doc_id", "<", 100)])
    assert plan["files_kept"] == 1
    plan = plan_snapshot_scan(info, [("doc_id", "=", 150)])
    assert plan["files_kept"] == 1
    plan = plan_snapshot_scan(info, [("doc_id", "in", [5, 250])])
    assert plan["files_kept"] == 2
    # conjunction: both predicates must be satisfiable in one file
    plan = plan_snapshot_scan(
        info, [("doc_id", ">=", 50), ("doc_id", "<=", 60)]
    )
    assert plan["files_kept"] == 1
    # boundary exactness: >= 200 keeps exactly the third file
    plan = plan_snapshot_scan(info, [("doc_id", ">=", 200)])
    assert plan["files_kept"] == 1
    plan = plan_snapshot_scan(info, [("doc_id", ">", 299)])
    assert plan["files_kept"] == 0


def test_read_snapshot_where_matches_plain_filter(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(
        _stats_df(spark, 0, 100), root, stats_columns=["doc_id"]
    )
    snap.append_snapshot(
        _stats_df(spark, 100, 200, "b"), root, stats_columns=["doc_id"]
    )
    full = read_snapshot(spark, root)
    pruned = read_snapshot(spark, root, where=[("doc_id", ">=", 150)])
    expect = sorted(
        (r.doc_id, r.text) for r in full.where("doc_id >= 150").collect()
    )
    assert sorted((r.doc_id, r.text) for r in pruned.collect()) == expect
    # the pruned scan reads ONE file, not two
    assert len(pruned.inputFiles()) == 1
    # all files pruned: empty result, schema intact
    none = read_snapshot(spark, root, where=[("doc_id", ">", 10_000)])
    assert none.count() == 0
    assert none.columns == full.columns


def test_where_prunes_conservatively_without_stats(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_stats_df(spark, 0, 100), root)  # no stats collected
    got = read_snapshot(spark, root, where=[("doc_id", ">=", 90)])
    assert got.count() == 10  # kept the file, filtered the rows


def test_where_type_mismatch_raises(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(
        _stats_df(spark, 0, 10), root, stats_columns=["doc_id"]
    )
    with pytest.raises(TypeError, match="expected int"):
        read_snapshot(spark, root, where=[("doc_id", ">=", "90")])


def test_stats_all_null_column_prunes_file(spark, tmp_path):
    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import plan_snapshot_scan

    root = _root(tmp_path)
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit(None).cast("bigint").alias("maybe"),
    ).coalesce(1)
    publish_snapshot(df, root, stats_columns=["maybe"])
    info = resolve_snapshot(root)
    # NULL fails every comparison predicate — the file is provably empty
    plan = plan_snapshot_scan(info, [("maybe", ">=", 0)])
    assert plan["files_kept"] == 0
    assert read_snapshot(spark, root, where=[("maybe", ">=", 0)]).count() == 0


def test_stats_date_and_timestamp_envelopes(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import plan_snapshot_scan

    root = _root(tmp_path)
    df = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 5), dt.datetime(2024, 1, 5, 12, 0, 0)),
            (2, dt.date(2024, 3, 1), dt.datetime(2024, 3, 1, 0, 30, 0)),
        ],
        "doc_id bigint, d date, t timestamp",
    ).coalesce(1)
    # Spark's legacy INT96 timestamp layout carries no footer min/max:
    # requesting stats for it must raise with the remediation...
    with pytest.raises(Exception, match="INT96"):
        publish_snapshot(df, root + "96", stats_columns=["t"])
    # ...which is to publish with the stats-bearing micros layout
    ts_key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(ts_key)
    spark.conf.set(ts_key, "TIMESTAMP_MICROS")
    try:
        publish_snapshot(df, root, stats_columns=["d", "t"])
    finally:
        spark.conf.set(ts_key, prev)
    info = resolve_snapshot(root)
    st = info.files[0]["stats"]
    assert st["d"]["min"] == "2024-01-05" and st["d"]["max"] == "2024-03-01"
    assert st["t"]["kind"] == "ts"  # instant column (isAdjustedToUTC)
    assert st["t"]["min"].startswith("2024-01-05T12:00:00")
    # prune with a date literal (and its ISO-string spelling)
    assert plan_snapshot_scan(
        info, [("d", ">", dt.date(2024, 3, 1))]
    )["files_kept"] == 0
    assert plan_snapshot_scan(info, [("d", ">", "2024-02-01")])[
        "files_kept"
    ] == 1
    # instant predicates MUST be tz-aware: Spark interprets naive
    # literals in the SESSION timezone, which the pruner cannot see —
    # a naive literal is refused, never silently compared against UTC
    with pytest.raises(TypeError, match="timezone-AWARE"):
        plan_snapshot_scan(info, [("t", "<", dt.datetime(2024, 1, 1))])
    utc = dt.timezone.utc
    assert plan_snapshot_scan(
        info, [("t", "<", dt.datetime(2024, 1, 1, tzinfo=utc))]
    )["files_kept"] == 0
    # a non-UTC aware literal normalizes to the same instant
    plus4 = dt.timezone(dt.timedelta(hours=4))
    assert plan_snapshot_scan(
        info, [("t", ">=", dt.datetime(2024, 3, 1, 4, 30, tzinfo=plus4))]
    )["files_kept"] == 1
    got = read_snapshot(
        spark, root, where=[("d", ">=", dt.date(2024, 2, 1))]
    )
    assert [r.doc_id for r in got.collect()] == [2]
    # the instant path end-to-end: pruned read == plain filter even
    # through a non-UTC literal
    got = read_snapshot(
        spark,
        root,
        where=[("t", ">=", dt.datetime(2024, 3, 1, 4, 0, tzinfo=plus4))],
    )
    assert [r.doc_id for r in got.collect()] == [2]


# ---------------------------------------------------------------------------
# incremental changes reads
# ---------------------------------------------------------------------------


def test_read_snapshot_changes_between_appends(spark, tmp_path):
    from smashed_spark.sources.snapshot import read_snapshot_changes

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    snap.append_snapshot(_df(spark, 5, "b"), root)
    snap.append_snapshot(_df(spark, 3, "c"), root)
    # v1 -> v3: both appended batches, nothing from the base
    got = _rows(read_snapshot_changes(spark, root, since_version=1))
    assert got == sorted(_rows(_df(spark, 5, "b")) + _rows(_df(spark, 3, "c")))
    # v2 -> v3: just the last batch
    got = _rows(read_snapshot_changes(spark, root, since_version=2))
    assert got == _rows(_df(spark, 3, "c"))
    # explicit target version
    got = _rows(
        read_snapshot_changes(spark, root, since_version=1, version=2)
    )
    assert got == _rows(_df(spark, 5, "b"))
    # same version: empty, schema intact
    empty = read_snapshot_changes(spark, root, since_version=3)
    assert empty.count() == 0 and empty.columns == ["doc_id", "text"]


def test_read_snapshot_changes_refuses_rewrites(spark, tmp_path):
    from smashed_spark.sources.snapshot import read_snapshot_changes

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    snap.append_snapshot(_df(spark, 5, "b"), root)
    compact_snapshot(spark, root)
    with pytest.raises(ValueError, match="non-append operations"):
        read_snapshot_changes(spark, root, since_version=1)
    with pytest.raises(ValueError, match="not an ancestor"):
        read_snapshot_changes(spark, root, since_version=99)


# ---------------------------------------------------------------------------
# property: envelope pruning is SAFE — a skipped file provably contains
# no matching row, for any data (nulls included) and any predicate.
# Pure-Python check against brute force; no Spark in the loop, so
# hypothesis can hammer it.
# ---------------------------------------------------------------------------


def test_prune_never_skips_a_matching_file_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from smashed_spark.sources.snapshot import _file_can_match

    values_st = st.lists(
        st.one_of(st.none(), st.integers(-50, 50)), min_size=0, max_size=12
    )
    op_st = st.sampled_from(["=", "<", "<=", ">", ">=", "in"])

    def brute_force(vals, op, literal):
        hits = []
        for v in vals:
            if v is None:
                continue  # NULL fails every comparison / IN
            if op == "=":
                hits.append(v == literal)
            elif op == "<":
                hits.append(v < literal)
            elif op == "<=":
                hits.append(v <= literal)
            elif op == ">":
                hits.append(v > literal)
            elif op == ">=":
                hits.append(v >= literal)
            elif op == "in":
                hits.append(v in literal)
        return any(hits)

    def entry_for(vals, with_stats):
        nonnull = [v for v in vals if v is not None]
        entry = {"path": "f", "bytes": 1, "rows": len(vals)}
        if with_stats:
            stats = {"kind": "int", "nulls": len(vals) - len(nonnull)}
            if nonnull:
                stats["min"] = min(nonnull)
                stats["max"] = max(nonnull)
            entry["stats"] = {"c": stats}
        return entry

    @settings(max_examples=400, deadline=None)
    @given(
        vals=values_st,
        op=op_st,
        lit=st.integers(-60, 60),
        in_set=st.lists(st.integers(-60, 60), min_size=0, max_size=5),
        with_stats=st.booleans(),
    )
    def check(vals, op, lit, in_set, with_stats):
        literal = in_set if op == "in" else lit
        entry = entry_for(vals, with_stats)
        kept = _file_can_match(entry, "c", op, literal)
        # SOUNDNESS: skipping is only allowed when no row matches
        if brute_force(vals, op, literal):
            assert kept, (vals, op, literal, entry)
        # precision spot: with stats present, an empty or all-null
        # file is always provably skippable
        if with_stats and not [v for v in vals if v is not None]:
            assert not kept

    check()


def test_s3_append_and_pruned_read(spark, s3):
    """Spec-2 appends and where= pruning behave identically on the s3
    tier: multi-prefix manifests, carried stats, skip accounting."""
    from smashed_spark.sources.snapshot import (
        append_snapshot,
        plan_snapshot_scan,
    )

    root = _s3_root()
    publish_snapshot(
        _df(spark, 100, "a").coalesce(1), root,
        stats_columns=["doc_id"], client=s3,
    )
    info = append_snapshot(
        _df(spark, 200, "b").filter("doc_id >= 100").coalesce(1), root,
        stats_columns=["doc_id"], client=s3,
    )
    assert info.version == 2 and info.row_count == 200
    assert len(info.prefixes) == 2
    plan = plan_snapshot_scan(info, [("doc_id", ">=", 150)])
    assert plan["files_kept"] == 1 and plan["files_skipped"] == 1
    got = read_snapshot(
        spark, root, where=[("doc_id", ">=", 150)],
        client=s3, allow_driver_download=True,
    )
    assert sorted(r.doc_id for r in got.collect()) == list(range(150, 200))


# ---------------------------------------------------------------------------
# tags: pinned releases that vacuum must never destroy
# ---------------------------------------------------------------------------


def test_tag_pin_resolve_and_vacuum_protection(spark, tmp_path):
    from smashed_spark.sources.snapshot import (
        delete_tag,
        list_tags,
        resolve_tag,
        tag_snapshot,
    )

    root = _root(tmp_path)
    for i, tag in enumerate(["a", "b", "c", "d"], start=1):
        publish_snapshot(_df(spark, 10 * i, tag), root)
    assert tag_snapshot(root, "release-2026-08", version=2) == 2
    assert list_tags(root) == {"release-2026-08": 2}
    # the pinned release survives a keep_last=1 vacuum — and so does
    # v3, which links it to the present: chain members drop only as a
    # connected PREFIX ("published" is defined by pointer ancestry, so
    # a hole would strand every older survivor off-chain)
    report = vacuum_snapshots(root, keep_last=1)
    assert report["dropped_versions"] == [1]
    assert sorted(report["kept"]) == [2, 4]
    assert list_snapshots(root) == [2, 3, 4]
    # ...and still reads, byte-for-byte
    pinned = resolve_tag(root, "release-2026-08")
    assert pinned.version == 2
    assert _rows(read_snapshot(spark, root, version=2)) == _rows(
        _df(spark, 20, "b")
    )
    # unpin -> the release AND its linking version become vacuumable
    delete_tag(root, "release-2026-08")
    report = vacuum_snapshots(root, keep_last=1)
    assert report["dropped_versions"] == [2, 3]
    assert list_snapshots(root) == [4]
    with pytest.raises(FileNotFoundError, match="no tag"):
        resolve_tag(root, "release-2026-08")


def test_tag_refusals_and_replace(spark, tmp_path):
    from smashed_spark.sources.snapshot import (
        list_tags,
        resolve_tag,
        tag_snapshot,
    )

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    publish_snapshot(_df(spark, 20, "b"), root)
    # default: tag the CURRENT version
    assert tag_snapshot(root, "latest-blessed") == 2
    # silently retargeting a release name is refused...
    with pytest.raises(RuntimeError, match="already points at v2"):
        tag_snapshot(root, "latest-blessed", version=1)
    # ...unless explicit
    assert tag_snapshot(root, "latest-blessed", version=1, replace=True) == 1
    assert resolve_tag(root, "latest-blessed").version == 1
    # tagging a nonexistent version is refused at tag time
    with pytest.raises(FileNotFoundError, match="no manifest"):
        tag_snapshot(root, "ghost", version=99)
    with pytest.raises(ValueError, match="invalid tag"):
        tag_snapshot(root, "../escape")
    assert list_tags(root) == {"latest-blessed": 1}


def test_tag_protects_append_chain_prefixes(spark, tmp_path):
    """A tag on an append-chain version keeps every prefix it
    references alive, even when vacuum drops the chain around it."""
    from smashed_spark.sources.snapshot import tag_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a").coalesce(1), root)
    snap.append_snapshot(_df(spark, 5, "b").coalesce(1), root)
    tag_snapshot(root, "pinned", version=2)
    # full rewrite supersedes the chain, then vacuum to 1
    compact_snapshot(spark, root)
    report = vacuum_snapshots(root, keep_last=1)
    assert report["dropped_versions"] == [1]
    # v2 (tagged) still reads: BOTH its prefixes survived v1's drop
    got = _rows(read_snapshot(spark, root, version=2))
    assert len(got) == 15


def test_tagged_offchain_version_survives_drop_unpublished(
    spark, tmp_path, monkeypatch
):
    """An analyst can pin ANY resolvable version — including a
    window-2 orphan (manifest without pointer flip).  The pin must
    shield it from the drop_unpublished sweep."""
    from smashed_spark.sources.snapshot import tag_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)

    real = snap._write_atomic

    def boom(path, payload, client=None):
        if path.endswith(snap.POINTER_NAME):
            raise RuntimeError("simulated crash before pointer")
        return real(path, payload, client=client)

    monkeypatch.setattr(snap, "_write_atomic", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        publish_snapshot(_df(spark, 20, "b"), root)
    monkeypatch.undo()

    tag_snapshot(root, "forensics", version=2)  # the orphan
    report = vacuum_snapshots(root, keep_last=1, drop_unpublished=True)
    assert report["dropped_versions"] == []
    assert 2 in list_snapshots(root)
    assert _rows(read_snapshot(spark, root, version=2)) == _rows(
        _df(spark, 20, "b")
    )


def test_s3_tags(spark, s3):
    from smashed_spark.sources.snapshot import (
        list_tags,
        resolve_tag,
        tag_snapshot,
    )

    root = _s3_root()
    publish_snapshot(_df(spark, 10, "a"), root, client=s3)
    publish_snapshot(_df(spark, 20, "b"), root, client=s3)
    assert tag_snapshot(root, "rel", version=1, client=s3) == 1
    assert list_tags(root, client=s3) == {"rel": 1}
    report = vacuum_snapshots(root, keep_last=1, client=s3)
    assert report["dropped_versions"] == []  # v1 pinned
    assert resolve_tag(root, "rel", client=s3).version == 1


def test_append_schema_mismatch_refused(spark, tmp_path):
    """An append whose batch drops, adds, or retypes a column would
    commit a manifest mixing incompatible files and silently lose data
    at read time — it must refuse at WRITE time instead."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)  # (doc_id, text)
    with pytest.raises(ValueError, match="missing=\\['text'\\]"):
        snap.append_snapshot(_df(spark, 5, "b").select("doc_id"), root)
    with pytest.raises(ValueError, match="extra=\\['lang'\\]"):
        snap.append_snapshot(
            _df(spark, 5, "b").withColumn("lang", F.lit("en")), root
        )
    with pytest.raises(ValueError, match="type-changed=\\['doc_id'\\]"):
        snap.append_snapshot(
            _df(spark, 5, "b").withColumn(
                "doc_id", F.col("doc_id").cast("int")
            ),
            root,
        )
    # matching schema still appends
    info = snap.append_snapshot(_df(spark, 5, "b"), root)
    assert info.row_count == 15


# ---------------------------------------------------------------------------
# schema evolution on governed tables: append_snapshot(evolve=True)
# ---------------------------------------------------------------------------


def test_append_evolve_three_generations(spark, tmp_path):
    """add-column + lossless-widen lifecycle: gen0 (doc_id int, text),
    gen1 adds score double, gen2 widens doc_id to bigint.  Reads align
    every generation to the current schema; time travel still serves
    each version under its own schema."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    g0 = spark.range(3).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    publish_snapshot(g0, root)

    g1 = spark.range(3, 6).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") * 0.5).alias("score"),
    )
    info1 = snap.append_snapshot(g1, root, evolve=True)
    assert info1.columns == {
        "doc_id": "int", "text": "string", "score": "double"
    }
    assert info1.schema_id == "1" and set(info1.schemas) == {"0", "1"}

    g2 = spark.range(6, 9).select(
        F.col("id").alias("doc_id"),  # bigint: widens the table type
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") * 0.5).alias("score"),
    )
    info2 = snap.append_snapshot(g2, root, evolve=True)
    assert info2.columns["doc_id"] == "bigint"
    assert info2.schema_id == "2" and set(info2.schemas) == {"0", "1", "2"}

    out = read_snapshot(spark, root)
    assert dict(out.dtypes) == {
        "doc_id": "bigint", "text": "string", "score": "double"
    }
    rows = sorted((r.doc_id, r.text, r.score) for r in out.collect())
    assert rows == [
        (i, f"t{i}", None if i < 3 else i * 0.5) for i in range(9)
    ]
    # time travel: v1 still reads under its own (gen0) schema
    v1 = read_snapshot(spark, root, version=1)
    assert dict(v1.dtypes) == {"doc_id": "int", "text": "string"}
    assert v1.count() == 3


def test_append_evolve_narrower_batch_casts_up(spark, tmp_path):
    """A batch NARROWER than the table (int doc_id into a bigint
    table, and missing a column) aligns up without touching the table
    schema — no new generation is minted."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 3, "a"), root)  # doc_id bigint, text
    batch = spark.range(100, 103).select(
        F.col("id").cast("int").alias("doc_id")  # narrower + no text
    )
    info = snap.append_snapshot(batch, root, evolve=True)
    assert info.columns == {"doc_id": "bigint", "text": "string"}
    assert info.schema_id == "0" and set(info.schemas) == {"0"}
    rows = sorted((r.doc_id, r.text) for r in read_snapshot(spark, root).collect())
    assert rows[-3:] == [(100, None), (101, None), (102, None)]


def test_append_evolve_lossy_still_refuses(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 3, "a"), root)  # doc_id bigint
    bad = spark.range(3).select(
        F.col("id").cast("double").alias("doc_id"),  # bigint<->double lossy
        F.lit("x").alias("text"),
    )
    with pytest.raises(ValueError, match="lossless widening"):
        snap.append_snapshot(bad, root, evolve=True)
    # and without evolve=True the plain mismatch refusal names the flag
    with pytest.raises(ValueError, match="evolve=True"):
        snap.append_snapshot(
            _df(spark, 3, "b").withColumn("lang", F.lit("en")), root
        )


def test_evolved_table_scoped_delete_and_pruned_read(spark, tmp_path):
    """Evolution composes with the rest of the protocol: envelope
    pruning on a where= read keeps old-generation files conservatively
    for a later-added column, and the file-scoped delete rewrites an
    old-generation file under the CURRENT schema while carrying the
    untouched new-generation entry verbatim."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    g0 = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    ).coalesce(1)
    publish_snapshot(g0, root, stats_columns=["doc_id"])
    g1 = spark.range(1000, 1100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") % 7).alias("bucket"),
    ).coalesce(1)
    snap.append_snapshot(
        g1, root, evolve=True, stats_columns=["doc_id", "bucket"]
    )

    # where= on the added column: gen0's file has no bucket stats →
    # kept conservatively; values come back right (NULL fails filter)
    got = read_snapshot(spark, root, where=[("bucket", "=", 3)])
    assert {r.doc_id for r in got.collect()} == {
        i for i in range(1000, 1100) if i % 7 == 3
    }

    before = resolve_snapshot(root)
    g1_entry = next(
        f for f in before.files if f["stats"]["doc_id"]["min"] == 1000
    )
    info = apply_deletions_snapshot(
        spark, root, keys=[5, 7], key_field="doc_id",
        stats_columns=["doc_id"],
    )
    assert g1_entry in info.files  # untouched new-gen entry verbatim
    out = read_snapshot(spark, root)
    assert out.count() == 198
    # the rewritten gen0 rows now live under the CURRENT schema
    assert dict(out.dtypes)["bucket"] == "bigint"
    assert (
        out.filter(F.col("doc_id") < 100)
        .filter(F.col("bucket").isNull())
        .count()
        == 98
    )


def test_evolved_changes_read_serves_current_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a"), root)
    g1 = spark.range(100, 103).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
        F.lit(1.5).alias("score"),
    )
    snap.append_snapshot(g1, root, evolve=True)
    ch = snap.read_snapshot_changes(spark, root, since_version=1)
    assert dict(ch.dtypes) == {
        "doc_id": "bigint", "text": "string", "score": "double"
    }
    assert ch.count() == 3


# ---------------------------------------------------------------------------
# partition transforms on governed tables (directory-level pruning)
# ---------------------------------------------------------------------------


def _ts_df(spark, lo_day, n_days, per_day=4):
    from pyspark.sql import functions as F

    n = n_days * per_day
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (
            F.to_timestamp(F.lit(f"2024-03-0{lo_day} 00:00:00"))
            + F.make_interval(
                days=(F.col("id") % n_days).cast("int"),
                hours=(F.col("id") % 24).cast("int"),
            )
        ).alias("ts"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )


def test_partition_transform_days_prunes_without_stats(spark, tmp_path):
    """days() layout: the derived column lives only in directory
    names (schema intact on read), and where= prunes files from the
    manifest's recorded partition values alone — no envelope stats."""
    import datetime as dt

    from pyspark.sql import functions as F

    root = _root(tmp_path)
    df = _ts_df(spark, 1, 3)  # 2024-03-01 .. 2024-03-03
    info = publish_snapshot(
        df, root, partition_transforms={"day": ("days", "ts")}
    )
    assert info.partition_transforms == {"day": ["days", "ts"]}
    assert all("/day=" in f["path"] for f in info.files)
    assert all(f["partition"]["day"].startswith("2024-03") for f in info.files)

    out = read_snapshot(spark, root)
    assert set(out.columns) == {"doc_id", "ts", "text"}  # no 'day' leak
    assert out.count() == 12

    cut = dt.datetime(2024, 3, 3, tzinfo=dt.timezone.utc)
    plan = snap.plan_snapshot_scan(info, [("ts", ">=", cut)])
    days_kept = {f["partition"]["day"] for f in plan["kept"]}
    assert days_kept == {"2024-03-03"}
    assert plan["files_skipped"] > 0

    got = read_snapshot(spark, root, where=[("ts", ">=", cut)])
    want = df.filter(F.col("ts") >= F.lit(cut)).select("doc_id")
    assert {r.doc_id for r in got.collect()} == {
        r.doc_id for r in want.collect()
    }


def test_partition_transform_bucket_prunes_equality(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), (F.col("id") % 17).cast("string")).alias("user"),
    )
    info = publish_snapshot(
        df, root, partition_transforms={"b8": ("bucket", "user", 8)}
    )
    assert len({f["partition"]["b8"] for f in info.files}) > 1
    plan = snap.plan_snapshot_scan(info, [("user", "=", "u3")])
    assert 0 < plan["files_kept"] < plan["files_total"]
    got = read_snapshot(spark, root, where=[("user", "=", "u3")])
    assert got.count() == df.filter(F.col("user") == "u3").count()
    # the in-list prunes to the union of its buckets
    plan_in = snap.plan_snapshot_scan(
        info, [("user", "in", ["u3", "u11"])]
    )
    assert plan_in["files_kept"] <= 2 * plan["files_kept"] + 1


def test_partition_transform_append_inherits_and_refuses_mismatch(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(
        _ts_df(spark, 1, 2), root,
        partition_transforms={"day": ("days", "ts")},
    )
    info = snap.append_snapshot(_ts_df(spark, 3, 1), root)
    assert info.partition_transforms == {"day": ["days", "ts"]}
    assert all("/day=" in f["path"] for f in info.files)
    # maintenance composes: compact preserves the layout; optimize
    # clusters WITHIN the directories (range keys = transform cols +
    # Z-key) and the layout survives the rewrite
    compacted = compact_snapshot(spark, root)
    assert compacted.partition_transforms == {"day": ["days", "ts"]}
    assert all("/day=" in f["path"] for f in compacted.files)
    optimized = snap.optimize_snapshot(
        spark, root, cluster_by=["doc_id"], num_files=4
    )
    assert optimized.partition_transforms == {"day": ["days", "ts"]}
    assert all("/day=" in f["path"] for f in optimized.files)
    assert optimized.row_count == compacted.row_count
    assert _rows(
        read_snapshot(spark, root).select("doc_id", "text")
    ) == _rows(
        read_snapshot(spark, root, version=compacted.version).select(
            "doc_id", "text"
        )
    )
    # scoped delete keeps the layout and the untouched-day entries
    before = resolve_snapshot(root)
    doomed = read_snapshot(spark, root).filter(
        F.col("doc_id").isin(0, 1)
    ).count()  # doc_ids repeat across the publish+append batches
    after = apply_deletions_snapshot(
        spark, root, keys=[0, 1], key_field="doc_id"
    )
    assert after.partition_transforms == {"day": ["days", "ts"]}
    assert after.row_count == before.row_count - doomed
    assert read_snapshot(spark, root).filter(
        F.col("doc_id").isin(0, 1)
    ).count() == 0


def test_partition_prune_never_skips_matching_file_property():
    """Soundness of the directory-level pruner, mirroring the stats
    pruner's property test: whatever the transform kind, literal form,
    and op, a file containing a matching row is NEVER skipped."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from smashed_spark.sources.snapshot import (
        _md5_bucket,
        _partition_can_match,
    )

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

    @settings(max_examples=300, deadline=None)
    @given(
        day=st.integers(0, 5),
        offs=st.lists(st.integers(0, 86399), min_size=1, max_size=8),
        lit_s=st.integers(-86400, 7 * 86400),
        op=st.sampled_from(["=", "<", "<=", ">", ">=", "in"]),
        kind=st.sampled_from(["days", "hours"]),
        lit_form=st.sampled_from(["aware", "iso"]),
    )
    def check_time(day, offs, lit_s, op, kind, lit_form):
        if kind == "hours":
            # a partitioned file holds ONE hour granule
            hour = offs[0] // 3600 * 3600
            rows = [
                base + dt.timedelta(days=day, seconds=hour + o % 3600)
                for o in offs
            ]
        else:
            rows = [base + dt.timedelta(days=day, seconds=o) for o in offs]
        raw = rows[0].strftime(
            "%Y-%m-%d" if kind == "days" else "%Y-%m-%d-%H"
        )
        entry = {"path": "f", "partition": {"p": raw}}
        transforms = {"p": [kind, "ts"]}
        lit_dt = base + dt.timedelta(seconds=lit_s)
        in_lits = [lit_dt, lit_dt + dt.timedelta(hours=7)]

        def enc(d):
            return (
                d.strftime("%Y-%m-%d %H:%M:%S")
                if lit_form == "iso"
                else d
            )

        literal = (
            [enc(x) for x in in_lits] if op == "in" else enc(lit_dt)
        )

        def row_matches(v):
            if op == "=":
                return v == lit_dt
            if op == "<":
                return v < lit_dt
            if op == "<=":
                return v <= lit_dt
            if op == ">":
                return v > lit_dt
            if op == ">=":
                return v >= lit_dt
            return v in in_lits

        if any(row_matches(r) for r in rows):
            assert _partition_can_match(entry, transforms, "ts", op, literal)

    check_time()

    @settings(max_examples=200, deadline=None)
    @given(
        vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=10),
        n=st.integers(1, 16),
        lit=st.integers(-1000, 1000),
        use_in=st.booleans(),
    )
    def check_bucket(vals, n, lit, use_in):
        b = _md5_bucket(vals[0], n)
        file_vals = [v for v in vals if _md5_bucket(v, n) == b]
        entry = {"path": "f", "partition": {"p": str(b)}}
        transforms = {"p": ["bucket", "k", n]}
        op = "in" if use_in else "="
        literal = [lit, lit + 1] if use_in else lit
        lits = literal if use_in else [literal]
        if any(v in file_vals for v in lits):
            assert _partition_can_match(entry, transforms, "k", op, literal)

    check_bucket()


def test_s3_partition_transform_roundtrip(spark, s3):
    """The s3 staging upload preserves the nested partition dirs, the
    manifest records their values, and the pruner serves them — same
    artifacts as the local tier."""
    import datetime as dt

    root = f"s3://{BUCKET}/tables/ptbl"
    df = _ts_df(spark, 1, 3)
    info = publish_snapshot(
        df, root, partition_transforms={"day": ("days", "ts")}, client=s3
    )
    assert all("/day=" in f["path"] for f in info.files)
    assert all("partition" in f for f in info.files)
    got = read_snapshot(
        spark, root, client=s3, allow_driver_download=True
    )
    assert set(got.columns) == {"doc_id", "ts", "text"}
    assert got.count() == 12
    cut = dt.datetime(2024, 3, 3, tzinfo=dt.timezone.utc)
    plan = snap.plan_snapshot_scan(info, [("ts", ">=", cut)])
    assert {f["partition"]["day"] for f in plan["kept"]} == {"2024-03-03"}
    pruned = read_snapshot(
        spark, root, where=[("ts", ">=", cut)],
        client=s3, allow_driver_download=True,
    )
    assert pruned.count() == 4


# ---------------------------------------------------------------------------
# r14 review-pass regressions (code-review findings, each reproduced
# before the fix landed)
# ---------------------------------------------------------------------------


def test_scoped_delete_null_scope_column_survives(spark, tmp_path):
    """Three-valued-logic regression: a row whose scope column is NULL
    (an old-generation row predating an evolved column) is OUT of
    scope and must survive even when its key matches the forget list —
    the unfixed filter dropped it."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)  # (doc_id, text)
    g1 = spark.range(100, 110).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
        (F.col("id") % 3).alias("bucket"),
    )
    snap.append_snapshot(g1, root, evolve=True)
    # doc 5 is old-gen: bucket NULL -> out of scope, must survive;
    # doc 102 is in scope (bucket 0) and dies
    info = apply_deletions_snapshot(
        spark, root, keys=[5, 102], key_field="doc_id",
        scope_where=[("bucket", "=", 0)],
    )
    got = {r.doc_id for r in read_snapshot(spark, root).collect()}
    assert 5 in got and 102 not in got
    assert info.row_count == 19


def test_rewrite_refuses_when_table_advanced_after_planning(
    spark, tmp_path, monkeypatch
):
    """Stale-parent regression: an append landing between a delete's
    planning resolve and its publish must make the delete REFUSE —
    the unfixed path committed a manifest without the appended files
    (silent data loss)."""
    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 10, "a").coalesce(1), root, stats_columns=["doc_id"]
    )

    from pyspark.sql import functions as F

    real_scan = snap._scan_files
    state = {"racing": False}

    def race_scan(*a, **kw):
        # fire between the delete's planning resolve and its publish —
        # the window the pointer-moved check (which only sees movement
        # AFTER publish begins) cannot cover
        if not state["racing"]:
            state["racing"] = True
            snap.append_snapshot(
                _df(spark, 5, "b").select(
                    (F.col("doc_id") + 100).alias("doc_id"), "text"
                ).coalesce(1),
                root,
            )
        return real_scan(*a, **kw)

    monkeypatch.setattr(snap, "_scan_files", race_scan)
    with pytest.raises(RuntimeError, match="advanced"):
        apply_deletions_snapshot(spark, root, keys=[3], key_field="doc_id")
    monkeypatch.undo()
    # the concurrent append's rows are intact; no delete committed
    got = {r[0] for r in _rows(read_snapshot(spark, root))}
    assert got == set(range(10)) | set(range(100, 105))


def test_evolve_append_rebases_when_schema_unchanged(
    spark, tmp_path, monkeypatch
):
    """An evolve=True append racing a PLAIN append must rebase like
    any other append (the concurrent commit kept the schema it evolved
    from) — the unfixed path raised 'concurrent commit changed the
    table schema' and orphaned the data."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a").coalesce(1), root)

    real = snap._write_data_prefix
    state = {"racing": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if not state["racing"]:
            state["racing"] = True
            snap.append_snapshot(
                _df(spark, 3, "b").select(
                    (F.col("doc_id") + 100).alias("doc_id"), "text"
                ).coalesce(1),
                str(root_sp),
            )
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    evolved_batch = spark.range(200, 203).select(
        F.col("id").alias("doc_id"),
        F.lit("c").alias("text"),
        (F.col("id") * 1.5).alias("score"),
    )
    info = snap.append_snapshot(evolved_batch, root, evolve=True)
    monkeypatch.undo()
    assert info.schema_id != "0" and "score" in info.columns
    got = read_snapshot(spark, root)
    assert got.count() == 11  # 5 + 3 (racer) + 3 (evolved)
    assert got.filter(F.col("score").isNotNull()).count() == 3


def test_bucket_transform_refuses_unportable_source_types(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(5).select(
        F.col("id").alias("doc_id"), (F.col("id") * 0.5).alias("w")
    )
    with pytest.raises(ValueError, match="string, integer, and date"):
        publish_snapshot(
            df, str(tmp_path / "t"),
            partition_transforms={"b4": ("bucket", "w", 4)},
        )
    # and an unportable LITERAL never prunes (conservative keep)
    from smashed_spark.sources.snapshot import _partition_can_match

    entry = {"path": "f", "partition": {"b4": "2"}}
    assert _partition_can_match(
        entry, {"b4": ["bucket", "doc_id", 4]}, "doc_id", "=", True
    )


def test_time_transform_requires_utc_session(spark, tmp_path):
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="timeZone=UTC"):
            publish_snapshot(
                _ts_df(spark, 1, 2), str(tmp_path / "t"),
                partition_transforms={"day": ("days", "ts")},
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_evolve_matches_column_names_case_insensitively(spark, tmp_path):
    """A case-variant batch column must evolve AGAINST the existing
    column (Spark's default resolver is case-insensitive), not mint a
    duplicate pair that refuses every later append."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 3, "a"), root)
    batch = spark.range(100, 103).select(
        F.col("id").alias("DOC_ID"), F.lit("x").alias("text")
    )
    info = snap.append_snapshot(batch, root, evolve=True)
    assert info.columns == {"doc_id": "bigint", "text": "string"}
    assert read_snapshot(spark, root).count() == 6
    # and a plain same-schema append still lands afterwards
    snap.append_snapshot(_df(spark, 2, "b"), root)


def test_plain_append_rebases_onto_evolved_parent(
    spark, tmp_path, monkeypatch
):
    """Review round 2: a plain append racing a concurrent EVOLVE
    commit rebases by tagging its written files with the generation
    they match in the new parent's registry — both commits land, and
    the appended rows read back with typed-NULL evolved columns."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a").coalesce(1), root)

    real = snap._write_data_prefix
    state = {"racing": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if not state["racing"]:
            state["racing"] = True
            evolved = spark.range(100, 103).select(
                F.col("id").alias("doc_id"),
                F.lit("e").alias("text"),
                (F.col("id") * 2.0).alias("score"),
            )
            snap.append_snapshot(evolved, str(root_sp), evolve=True)
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    info = snap.append_snapshot(
        _df(spark, 3, "b").select(
            (F.col("doc_id") + 200).alias("doc_id"), "text"
        ).coalesce(1),
        root,
    )
    monkeypatch.undo()
    # table schema is the EVOLVED one; our files carry the old gen tag
    assert "score" in info.columns
    got = read_snapshot(spark, root)
    assert got.count() == 11
    assert got.filter(
        F.col("doc_id").between(200, 202) & F.col("score").isNull()
    ).count() == 3


def test_instant_timestamp_literals_prune_only_tz_aware():
    """Review round 2: naive datetimes / ISO strings against an
    INSTANT (tz-adjusted) timestamp source never prune — Spark's
    re-applied filter resolves them under the READER's session zone,
    so UTC-wall-clock pruning could skip the matching directory.
    Wall-clock sources (date/ntz/string) keep the textual rules."""
    import datetime as dt

    from smashed_spark.sources.snapshot import _partition_can_match

    entry = {"path": "f", "partition": {"day": "2024-03-02"}}
    tr = {"day": ["days", "ts"]}
    naive = dt.datetime(2024, 3, 1, 12, 0)
    aware = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)
    # instant source (default / per manifest type): naive + ISO keep
    for lit in (naive, "2024-03-01 12:00:00", dt.date(2024, 3, 1)):
        assert _partition_can_match(
            entry, tr, "ts", "=", lit, src_types={"ts": "timestamp"}
        )
    # ...but a tz-aware literal prunes
    assert not _partition_can_match(
        entry, tr, "ts", "=", aware, src_types={"ts": "timestamp"}
    )
    # wall-clock source: naive/date/ISO prune, aware keeps
    for lit in (naive, "2024-03-01 12:00:00", dt.date(2024, 3, 1)):
        assert not _partition_can_match(
            entry, tr, "ts", "=", lit,
            src_types={"ts": "timestamp_ntz"},
        )
    assert _partition_can_match(
        entry, tr, "ts", "=", aware, src_types={"ts": "timestamp_ntz"}
    )


def test_inherited_bucket_spec_skips_type_strictness():
    """Review round 2: inherited specs on carried commits must not
    re-raise the bucket source-type restriction (it would brick every
    append to a pre-existing table); the read side stays safe via the
    literal _bucketable guard."""
    from smashed_spark.sources.snapshot import _validate_transforms

    spec = {"b4": ("bucket", "w", 4)}
    cols = {"doc_id": "bigint", "w": "double"}
    with pytest.raises(ValueError, match="string, integer, and date"):
        _validate_transforms(spec, cols)
    assert _validate_transforms(spec, cols, strict_bucket_types=False) == {
        "b4": ["bucket", "w", 4]
    }
    # date sources are portable (str(date) == CAST text) — strict OK
    assert _validate_transforms(
        {"b4": ("bucket", "d", 4)}, {"d": "date"}
    ) == {"b4": ["bucket", "d", 4]}


def test_evolve_refuses_case_distinct_batch_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 3, "a"), root)
    bad = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
        F.lit(1).alias("extra"),
        F.lit(2).alias("EXTRA"),
    )
    with pytest.raises(ValueError, match="case-distinct"):
        snap.append_snapshot(bad, root, evolve=True)


def test_snapshot_table_stats_inspector(spark, tmp_path):
    """The manifest-only describe-table: generation spread, clustered
    fraction, transform dir counts, stats coverage — zero Spark jobs,
    zero listings (verified by feeding it a root whose data dirs were
    renamed away: resolve still answers from the manifest)."""
    import os

    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import snapshot_table_stats

    root = _root(tmp_path)
    publish_snapshot(
        _ts_df(spark, 1, 2).coalesce(2), root,
        partition_transforms={"day": ("days", "ts")},
        stats_columns=["doc_id"],
    )
    snap.append_snapshot(
        _ts_df(spark, 3, 1)
        .withColumn("score", F.col("doc_id") * 0.5)
        .coalesce(1),
        root,
        evolve=True,
        stats_columns=["doc_id"],
    )
    st = snapshot_table_stats(root)
    assert st["rows"] == 12 and st["files"] == len(
        resolve_snapshot(root).files
    )
    assert st["schema_generations"]["1"] >= 1  # the evolved batch
    assert st["current_schema_id"] == "1"
    assert st["clustered_files"] == 0
    assert st["partition_transforms"] == {"day": ["days", "ts"]}
    assert st["partition_dirs"]["day"] == 3  # three distinct days
    assert st["stats_columns"]["doc_id"] == st["files"]
    assert st["small_files_lt_16mib"] == st["files"]
    # manifest-only: answers even with the data renamed out from under
    os.rename(f"{root}/data", f"{root}/data_hidden")
    try:
        assert snapshot_table_stats(root)["rows"] == 12
    finally:
        os.rename(f"{root}/data_hidden", f"{root}/data")
    # time travel addresses a version's own manifest
    assert snapshot_table_stats(root, version=1)["rows"] == 8


def test_changes_read_prunes_on_transformed_table(spark, tmp_path):
    """read_snapshot_changes(where=) serves partition-scoped
    consumers: directory pruning applies to the appended files too."""
    import datetime as dt

    root = _root(tmp_path)
    publish_snapshot(
        _ts_df(spark, 1, 2), root,
        partition_transforms={"day": ("days", "ts")},
    )
    snap.append_snapshot(_ts_df(spark, 3, 2), root)
    cut = dt.datetime(2024, 3, 4, tzinfo=dt.timezone.utc)
    ch = snap.read_snapshot_changes(
        spark, root, since_version=1, where=[("ts", ">=", cut)]
    )
    rows = ch.collect()
    assert rows and all(
        r.ts >= dt.datetime(2024, 3, 4) for r in rows
    )
    # only day>=2024-03-04 dirs of the APPENDED files are scanned
    scanned = ch.inputFiles()
    assert scanned and all("day=2024-03-04" in f for f in scanned)


def test_partition_transform_spec_refusals(spark, tmp_path):
    root = _root(tmp_path)
    df = _ts_df(spark, 1, 1)
    with pytest.raises(ValueError, match="kind must be"):
        publish_snapshot(
            df, str(tmp_path / "a"),
            partition_transforms={"day": ("weeks", "ts")},
        )
    with pytest.raises(ValueError, match="not in the data columns"):
        publish_snapshot(
            df, str(tmp_path / "b"),
            partition_transforms={"day": ("days", "nope")},
        )
    with pytest.raises(ValueError, match="collides with a data column"):
        publish_snapshot(
            df, str(tmp_path / "c"),
            partition_transforms={"ts": ("days", "ts")},
        )
    with pytest.raises(ValueError, match="hidden to the inventory"):
        publish_snapshot(
            df, str(tmp_path / "d"),
            partition_transforms={"_day": ("days", "ts")},
        )
    assert not (tmp_path / "a").exists()


def test_delete_missing_tag_raises_both_tiers(spark, tmp_path, s3):
    from smashed_spark.sources.snapshot import delete_tag

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a"), root)
    with pytest.raises(FileNotFoundError, match="no tag 'nope'"):
        delete_tag(root, "nope")
    s3root = _s3_root()
    publish_snapshot(_df(spark, 5, "a"), s3root, client=s3)
    with pytest.raises(FileNotFoundError, match="no tag 'nope'"):
        delete_tag(s3root, "nope", client=s3)


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path, monkeypatch):
    """dry_run must predict the real run exactly (same decision code)
    while deleting nothing — including the window-1 orphan double-
    reporting subtlety: a dropped version's prefix still exists on
    disk during a dry run and must not ALSO show up as an orphan."""
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    publish_snapshot(_df(spark, 20, "b"), root)
    publish_snapshot(_df(spark, 30, "c"), root)
    # manufacture a window-1 orphan prefix (no manifest)
    real = snap._write_atomic

    def boom(path, payload, client=None):
        if snap.MANIFEST_DIR in path:
            raise RuntimeError("boom")
        return real(path, payload, client=client)

    monkeypatch.setattr(snap, "_write_atomic", boom)
    with pytest.raises(RuntimeError):
        publish_snapshot(_df(spark, 5, "x"), root)
    monkeypatch.undo()

    dry = vacuum_snapshots(
        root, keep_last=1, drop_unpublished=True, dry_run=True
    )
    assert dry["dry_run"] is True
    assert dry["dropped_versions"] == [1, 2]
    assert len(dry["dropped_orphan_prefixes"]) == 1
    # nothing was touched
    assert list_snapshots(root) == [1, 2, 3]
    assert len(os.listdir(os.path.join(root, snap.DATA_DIR))) == 4
    # the real run does exactly what the dry run predicted
    wet = vacuum_snapshots(root, keep_last=1, drop_unpublished=True)
    assert "dry_run" not in wet
    assert wet["dropped_versions"] == dry["dropped_versions"]
    assert wet["dropped_orphan_prefixes"] == dry["dropped_orphan_prefixes"]
    assert list_snapshots(root) == [3]
    assert len(os.listdir(os.path.join(root, snap.DATA_DIR))) == 1


def test_snapshot_history(spark, tmp_path):
    from smashed_spark.sources.snapshot import (
        snapshot_history,
        tag_snapshot,
    )

    root = _root(tmp_path)
    with pytest.raises(FileNotFoundError, match="no pointer"):
        snapshot_history(root)
    publish_snapshot(_df(spark, 10, "a").coalesce(1), root)
    snap.append_snapshot(_df(spark, 5, "b").coalesce(1), root)
    apply_deletions_snapshot(spark, root, keys=[0], key_field="doc_id")
    tag_snapshot(root, "rel", version=2)
    hist = snapshot_history(root)
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert [h["operation"] for h in hist] == ["delete", "append", "publish"]
    # the delete removes BOTH doc_id=0 rows (one per appended batch)
    assert [h["row_count"] for h in hist] == [13, 15, 10]
    assert hist[1]["tags"] == ["rel"] and hist[0]["tags"] == []
    assert hist[1]["n_files"] == 2  # the append spans both prefixes
    assert all(h["bytes"] > 0 for h in hist)
    assert all(h["parent_vacuumed"] is False for h in hist)
    # limit bounds the walk
    assert [h["version"] for h in snapshot_history(root, limit=2)] == [3, 2]
    # vacuum the oldest: the walk reports where history now ends
    # (v2 is tagged, so prefix-drop removes only v1)
    vacuum_snapshots(root, keep_last=1)
    hist = snapshot_history(root)
    assert [h["version"] for h in hist] == [3, 2]
    assert hist[-1]["parent_vacuumed"] is True




def test_read_snapshot_changes_with_where(spark, tmp_path):
    from smashed_spark.sources.snapshot import read_snapshot_changes

    root = _root(tmp_path)
    publish_snapshot(
        _stats_df(spark, 0, 100), root, stats_columns=["doc_id"]
    )
    snap.append_snapshot(
        _stats_df(spark, 100, 200, "b"), root, stats_columns=["doc_id"]
    )
    snap.append_snapshot(
        _stats_df(spark, 200, 300, "c"), root, stats_columns=["doc_id"]
    )
    got = read_snapshot_changes(
        spark, root, since_version=1, where=[("doc_id", ">=", 250)]
    )
    assert sorted(r.doc_id for r in got.collect()) == list(range(250, 300))
    # the second appended file (100..199) was pruned, not just filtered
    assert len(got.inputFiles()) == 1
    # prune everything: empty result, schema intact
    none = read_snapshot_changes(
        spark, root, since_version=1, where=[("doc_id", ">", 10_000)]
    )
    assert none.count() == 0 and "text" in none.columns


def test_snapshot_loader_mapper(spark, tmp_path):
    """The governed-table loader in the pipeline-mapper shape: union
    of the listed tables' snapshots, with tag time travel and where=
    pruning riding the same contracts as read_snapshot."""
    from smashed_spark.sources.loaders import SnapshotLoaderMapper
    from smashed_spark.sources.snapshot import tag_snapshot

    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    publish_snapshot(
        _stats_df(spark, 0, 50), t1, stats_columns=["doc_id"]
    )
    publish_snapshot(
        _stats_df(spark, 50, 100, "b"), t2, stats_columns=["doc_id"]
    )
    tag_snapshot(t1, "rel")
    publish_snapshot(_stats_df(spark, 500, 510), t1)  # newer v2

    roots = spark.createDataFrame([(t1,), (t2,)], "root: string")
    got = SnapshotLoaderMapper("root").map(roots)
    ids = sorted(r.doc_id for r in got.collect())
    assert ids == list(range(50, 100)) + list(range(500, 510))
    # tag pins t1 back to v1 for every listed table carrying that tag
    with pytest.raises(FileNotFoundError, match="no tag"):
        SnapshotLoaderMapper("root", tag="rel").map(roots).collect()
    tag_snapshot(t2, "rel")
    pinned = SnapshotLoaderMapper("root", tag="rel").map(roots)
    assert sorted(r.doc_id for r in pinned.collect()) == list(range(100))
    # where= prunes files per table
    some = SnapshotLoaderMapper(
        "root", tag="rel", where=[("doc_id", ">=", 75)]
    ).map(roots)
    assert sorted(r.doc_id for r in some.collect()) == list(range(75, 100))
    assert len(some.inputFiles()) == 1  # t1's file pruned entirely
    # refusals
    with pytest.raises(ValueError, match="mutually exclusive"):
        SnapshotLoaderMapper("root", version=1, tag="rel")
    empty = spark.createDataFrame([], "root: string")
    with pytest.raises(ValueError, match="no table roots"):
        SnapshotLoaderMapper("root").map(empty)


# ---------------------------------------------------------------------------
# zero-file snapshots + plan predicate validation (round-14 review fixes)
# ---------------------------------------------------------------------------


def _doctor_zero_file_append(root):
    """Commit a v2 append manifest listing ZERO files — the shape an
    empty write (no part files) or a delete-everything rewrite leaves
    behind.  Hand-written because Spark's local writer usually emits
    one empty part file; the protocol must survive the zero-file form
    regardless of which writer produced it."""
    mdir = os.path.join(root, snap.MANIFEST_DIR)
    v1 = json.loads(open(os.path.join(mdir, "v00000001.json")).read())
    v2 = {
        **v1,
        "version": 2,
        "parent": 1,
        "operation": "append",
        "files": [],
        "prefixes": [],
        "row_count": 0,
    }
    with open(os.path.join(mdir, "v00000002.json"), "w") as f:
        f.write(json.dumps(v2))
    with open(os.path.join(root, snap.POINTER_NAME), "w") as f:
        f.write(
            json.dumps({"version": 2, "manifest": snap._manifest_key(2)})
        )


def test_zero_file_snapshot_reads_empty_typed(spark, tmp_path):
    from smashed_spark.sources.snapshot import read_snapshot_changes

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5), root)
    _doctor_zero_file_append(root)
    got = read_snapshot(spark, root)
    assert got.count() == 0
    assert dict(got.dtypes) == {"doc_id": "bigint", "text": "string"}
    # Catalyst sees the zero-file read is empty and drops a join on it
    anti = _df(spark, 3).join(got, "doc_id", "left_anti")
    assert "Join" not in (
        anti._jdf.queryExecution().optimizedPlan().toString()
    )
    assert anti.count() == 3
    # where= over zero files must not IndexError either
    got = read_snapshot(spark, root, where=[("doc_id", ">=", 3)])
    assert got.count() == 0
    # changes read whose target lists zero files
    got = read_snapshot_changes(spark, root, since_version=2)
    assert got.count() == 0
    assert dict(got.dtypes) == {"doc_id": "bigint", "text": "string"}


def test_plan_scan_unknown_predicate_column_raises(spark, tmp_path):
    from smashed_spark.sources.snapshot import plan_snapshot_scan

    root = _root(tmp_path)
    info = publish_snapshot(_df(spark, 5), root, stats_columns=["doc_id"])
    with pytest.raises(ValueError, match="not in the snapshot's schema"):
        plan_snapshot_scan(info, [("doc_idd", ">=", 3)])
