"""Round-15 snapshot hardening: string-sourced time transforms refuse
(write) / never prune (read), evolve's table type only widens within
_SAFE_WIDENINGS, timestamp forget keys plan tz-correctly, rebases
refuse a concurrently changed layout, off-chain debris is detectable,
as_of time travel, and maintenance rewrites inherit envelope stats.
"""

import datetime as dt
import json

import pytest

import smashed_spark.sources.snapshot as snap
from smashed_spark.sources.snapshot import (
    append_snapshot,
    apply_deletions_snapshot,
    compact_snapshot,
    optimize_snapshot,
    plan_snapshot_scan,
    publish_snapshot,
    read_snapshot,
    resolve_snapshot,
    vacuum_snapshots,
)


def _root(tmp_path):
    return str(tmp_path / "table")


def _df(spark, n=100, tag="a"):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(tag + "_"), F.col("id")).alias("text"),
    )


@pytest.fixture()
def micros_ts(spark):
    """Stats on timestamp columns need the footer-bearing micros
    layout, not Spark's legacy INT96."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    yield
    spark.conf.set(key, prev)


def _ts_df(spark, n=12):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.to_timestamp(
            F.concat(
                F.lit("2024-03-0"),
                (F.col("id") % 3 + 1).cast("string"),
                F.lit(" 10:00:00"),
            )
        ).alias("ts"),
    )


# ---------------------------------------------------------------------------
# ADVICE finding 1: string-sourced days/hours transforms
# ---------------------------------------------------------------------------


def test_time_transform_refuses_string_source(spark, tmp_path):
    """The writer's date_format CASTS a string source (honoring
    embedded UTC offsets) while read literals compare as text — the
    two can disagree on which directory holds a row, so a NEW table
    refuses string sources for days/hours outright."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit("2023-12-31T23:00:00-05:00").alias("when"),
    )
    with pytest.raises(ValueError, match="days/hours transforms support"):
        publish_snapshot(
            df,
            _root(tmp_path),
            partition_transforms={"day": ("days", "when")},
        )


def test_time_transform_string_source_inherited_never_prunes():
    """Legacy tables that already carry a string-sourced time layout
    (admitted via the inherited non-strict path) stay readable: the
    pruner keeps every directory for predicates on that source, so
    the offset-bearing row the writer shelved in 'tomorrow's'
    directory is never skipped."""
    from smashed_spark.sources.snapshot import (
        _partition_can_match,
        _validate_transforms,
    )

    # inherited (non-strict) validation still admits the legacy spec
    spec = _validate_transforms(
        {"day": ("days", "when")},
        {"when": "string"},
        strict_bucket_types=False,
    )
    assert spec == {"day": ["days", "when"]}

    # the writer put '2023-12-31T23:00:00-05:00' in day=2024-01-01
    entry = {"path": "f", "partition": {"day": "2024-01-01"}}
    tr = {"day": ["days", "when"]}
    # a textual equality read on the string column must NOT prune it
    assert _partition_can_match(
        entry,
        tr,
        "when",
        "=",
        "2023-12-31T23:00:00-05:00",
        src_types={"when": "string"},
    )
    # nor any other literal form — string sources never time-prune
    for lit in ("2023-12-31", dt.date(2023, 12, 31)):
        assert _partition_can_match(
            entry, tr, "when", "=", lit, src_types={"when": "string"}
        )


# ---------------------------------------------------------------------------
# ADVICE finding 2: evolve's table type never "widens" to string
# ---------------------------------------------------------------------------


def test_evolve_refuses_int_to_string_type_change(spark, tmp_path):
    """int→string passes is_safe_cast's to-string rule but is a TYPE
    CHANGE, not a widening: old files' envelope stats keep kind 'int'
    and a later string-literal pruned read would crash against them.
    evolve=True refuses; a republish owns the cast explicitly."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5), root, stats_columns=["doc_id"])
    batch = spark.range(5, 8).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit("s").alias("text"),
    )
    with pytest.raises(ValueError, match="cannot evolve"):
        append_snapshot(batch, root, evolve=True)
    # numeric widening still evolves
    wide = spark.range(5, 8).select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.lit("w").alias("text"),
    )
    info = append_snapshot(wide, root, evolve=True)
    assert info.columns["doc_id"] == "bigint"
    # and the pruned read over both generations still works
    got = read_snapshot(spark, root, where=[("doc_id", ">=", 5)])
    assert got.count() == 3


# ---------------------------------------------------------------------------
# ADVICE finding 3: timestamp forget keys from a DataFrame
# ---------------------------------------------------------------------------


def test_delete_timestamp_keys_dataframe_prunes_not_crashes(
    spark, tmp_path, micros_ts
):
    """collect() renders TIMESTAMP keys as naive session-zone
    datetimes; the internally derived prune literals must re-attach
    the zone instead of tripping _norm_stat's naive-instant refusal.
    The delete both works AND stays file-scoped."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    df = _ts_df(spark, 12).repartition(3, "ts")
    publish_snapshot(df, root, stats_columns=["ts"])

    forget = df.filter(F.col("doc_id") == 0).select("ts")
    info = apply_deletions_snapshot(spark, root, forget, "ts")
    got = read_snapshot(spark, root)
    # doc_ids 0,3,6,9 share ts 2024-03-01 10:00 — all four rows die
    assert got.count() == 8
    assert got.filter(F.col("doc_id").isin(0, 3, 6, 9)).count() == 0
    # file-scoped: at least one of the three ts-partitioned files was
    # carried verbatim (untouched) rather than rewritten
    carried = [f for f in info.files if "v00000001" in f["path"]]
    assert carried, "expected untouched parent files carried verbatim"


def test_delete_naive_literal_keys_fall_back_to_full_rewrite(
    spark, tmp_path, micros_ts
):
    """User-passed NAIVE datetime forget keys against instant envelope
    stats: the pruner refuses them (tz-ambiguity), but the delete's
    semantics never depended on pruning — it falls back to the full
    anti-join rewrite instead of raising."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(_ts_df(spark, 12), root, stats_columns=["ts"])
    info = apply_deletions_snapshot(
        spark, root, [dt.datetime(2024, 3, 1, 10, 0)], "ts"
    )
    got = read_snapshot(spark, root)
    assert got.count() == 8
    assert (
        got.filter(F.col("ts") == F.lit("2024-03-01 10:00:00")).count()
        == 0
    )
    assert info.operation == "delete"


# ---------------------------------------------------------------------------
# ADVICE finding 4: rebase refuses a concurrently changed layout
# ---------------------------------------------------------------------------


def test_append_rebase_refuses_layout_change(spark, tmp_path, monkeypatch):
    """An append racing a republish that REDEFINED a transform (same
    directory name, different source) must refuse the rebase: the
    written prefix is laid out under the old spec, and its recorded
    partition values would misprune under the new one."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)

    def two_key(spark, lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("u"), (F.col("id") % 5).cast("string")).alias(
                "user_a"
            ),
            F.concat(F.lit("v"), (F.col("id") % 7).cast("string")).alias(
                "user_b"
            ),
        )

    publish_snapshot(
        two_key(spark, 0, 20, "a"),
        root,
        partition_transforms={"b4": ("bucket", "user_a", 4)},
    )

    real = snap._write_data_prefix
    state = {"raced": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if not state["raced"]:
            state["raced"] = True
            # concurrent republish: SAME directory name b4, different
            # source column — same schema, so the schema guard alone
            # would wave the rebase through
            publish_snapshot(
                two_key(spark, 0, 20, "r"),
                str(root_sp),
                partition_transforms={"b4": ("bucket", "user_b", 4)},
            )
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    with pytest.raises(RuntimeError, match="partition_transforms"):
        append_snapshot(two_key(spark, 20, 25, "b"), root)
    monkeypatch.undo()
    # the winning republish is intact
    assert resolve_snapshot(root).partition_transforms == {
        "b4": ["bucket", "user_b", 4]
    }


# ---------------------------------------------------------------------------
# ADVICE finding 5: off-chain debris + append retry-exhausted text
# ---------------------------------------------------------------------------


def test_resolve_verify_chain_refuses_offchain_debris(spark, tmp_path):
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a"), root)
    append_snapshot(_df(spark, 3, "b"), root)

    # hand-plant rebase-style debris: a manifest numbered PAST the
    # pointer (exists, parseable, never published)
    v2 = resolve_snapshot(root)
    debris = {
        "version": 3,
        "spec": 2,
        "columns": v2.columns,
        "data_prefix": "data/v00000003-dead",
        "prefixes": ["data/v00000003-dead"],
        "files": [],
        "row_count": 0,
        "parent": 1,
        "operation": "append",
        "committed_at": 0.0,
    }
    (tmp_path / "table" / "_manifests").mkdir(exist_ok=True)
    path = tmp_path / "table" / snap._manifest_key(3)
    path.write_text(json.dumps(debris))

    # bare explicit-version resolution still serves it (documented)
    assert resolve_snapshot(root, version=3).row_count == 0
    # verify_chain walks pointer→parents and refuses
    with pytest.raises(ValueError, match="off-chain debris"):
        resolve_snapshot(root, version=3, verify_chain=True)
    # chain members pass verification
    assert resolve_snapshot(root, version=1, verify_chain=True).version == 1
    assert resolve_snapshot(root, version=2, verify_chain=True).version == 2


def test_append_retry_exhausted_names_the_append(spark, tmp_path,
                                                 monkeypatch):
    """The exhausted-retries error for an APPEND must not claim the
    table 'requires a single writer for non-append operations'."""
    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a"), root)
    monkeypatch.setattr(snap, "DEFAULT_COMMIT_RETRIES", 0)

    real = snap._write_data_prefix
    state = {"raced": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if not state["raced"]:
            state["raced"] = True
            append_snapshot(_df(spark, 2, "r"), str(root_sp))
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    with pytest.raises(RuntimeError, match="rebase retries"):
        append_snapshot(_df(spark, 3, "b"), root)


# ---------------------------------------------------------------------------
# as_of timestamp time travel
# ---------------------------------------------------------------------------


def test_as_of_time_travel(spark, tmp_path):
    root = _root(tmp_path)
    v1 = publish_snapshot(_df(spark, 5, "a"), root)
    v2 = append_snapshot(_df(spark, 3, "b"), root)
    assert v2.committed_at > v1.committed_at

    mid = (v1.committed_at + v2.committed_at) / 2
    assert resolve_snapshot(root, as_of=mid).version == 1
    assert resolve_snapshot(root, as_of=v1.committed_at).version == 1
    assert resolve_snapshot(root, as_of=v2.committed_at + 10).version == 2
    aware = dt.datetime.fromtimestamp(mid, tz=dt.timezone.utc)
    assert resolve_snapshot(root, as_of=aware).version == 1
    assert read_snapshot(spark, root, as_of=mid).count() == 5

    with pytest.raises(ValueError, match="predates version 1"):
        resolve_snapshot(root, as_of=v1.committed_at - 10)
    with pytest.raises(TypeError, match="naive datetime"):
        resolve_snapshot(root, as_of=dt.datetime(2024, 1, 1))
    with pytest.raises(ValueError, match="exclusive"):
        resolve_snapshot(root, version=1, as_of=mid)


def test_as_of_refuses_vacuumed_chain(spark, tmp_path):
    root = _root(tmp_path)
    v1 = publish_snapshot(_df(spark, 5, "a"), root)
    append_snapshot(_df(spark, 3, "b"), root)
    append_snapshot(_df(spark, 2, "c"), root)
    vacuum_snapshots(root, keep_last=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        resolve_snapshot(root, as_of=v1.committed_at)


def test_snapshot_loader_mapper_as_of(spark, tmp_path):
    from smashed_spark.sources.loaders import SnapshotLoaderMapper

    root = _root(tmp_path)
    v1 = publish_snapshot(_df(spark, 5, "a"), root)
    append_snapshot(_df(spark, 3, "b"), root)
    roots = spark.createDataFrame([(root,)], "root string")
    out = SnapshotLoaderMapper("root", as_of=v1.committed_at).apply(roots)
    assert out.count() == 5
    with pytest.raises(ValueError, match="mutually exclusive"):
        SnapshotLoaderMapper("root", version=1, as_of=v1.committed_at)


# ---------------------------------------------------------------------------
# VERDICT ask 3: maintenance rewrites inherit envelope stats
# ---------------------------------------------------------------------------


def test_maintenance_inherits_stats_columns(spark, tmp_path):
    """publish with stats → compact → delete → the NEXT delete still
    prunes to a strict subset of files; no caller re-plumbed
    stats_columns through any maintenance call."""
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    ).repartition(8, "doc_id").sortWithinPartitions("doc_id")
    publish_snapshot(df, root, stats_columns=["doc_id"])

    compacted = compact_snapshot(spark, root, target_file_bytes=4 << 10)
    assert all("doc_id" in (f.get("stats") or {}) for f in compacted.files)

    d1 = apply_deletions_snapshot(spark, root, [1], "doc_id")
    assert all("doc_id" in (f.get("stats") or {}) for f in d1.files)

    # the NEXT delete proves the point: its plan prunes
    plan = plan_snapshot_scan(d1, [("doc_id", "in", [2])])
    assert plan["skipped"], "post-maintenance delete should still prune"
    assert len(plan["kept"]) < len(d1.files)

    opt = optimize_snapshot(spark, root, cluster_by=["doc_id"], bits=8)
    assert all("doc_id" in (f.get("stats") or {}) for f in opt.files)

    # explicit () still drops stats (the old default, now opt-in)
    dropped = compact_snapshot(
        spark, root, target_file_bytes=4 << 10, stats_columns=()
    )
    assert all("stats" not in f for f in dropped.files)


# ---------------------------------------------------------------------------
# merge_snapshot: keyed MERGE/upsert
# ---------------------------------------------------------------------------


def _merge_df(spark, ids, tag):
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        .select(
            "doc_id",
            F.concat(F.lit(tag + "_"), F.col("doc_id")).alias("text"),
        )
    )


def test_merge_updates_inserts_and_carries(spark, tmp_path):
    """Matched keys take the batch row, unmatched insert, untouched
    rows AND untouched files survive verbatim."""
    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    base = _df(spark, 100, "a").repartitionByRange(4, "doc_id")
    base = base.sortWithinPartitions("doc_id")
    publish_snapshot(base, root, stats_columns=["doc_id"])
    v1_files = len(resolve_snapshot(root).files)

    batch = _merge_df(spark, [5, 17, 200, 201], "new")
    info = merge_snapshot(spark, root, batch, "doc_id")
    assert info.operation == "merge"
    assert info.row_count == 102  # 100 - 2 replaced + 4 batch

    got = {r.doc_id: r.text for r in read_snapshot(spark, root).collect()}
    assert got[5] == "new_5" and got[17] == "new_17"  # updated
    assert got[200] == "new_200" and got[201] == "new_201"  # inserted
    assert got[3] == "a_3" and len(got) == 102  # untouched

    # file-scoped: the hash-partitioned files not holding keys 5/17
    # ride the manifest verbatim from the v1 prefix
    carried = [f for f in info.files if "v00000001" in f["path"]]
    rewritten = [f for f in info.files if "v00000001" not in f["path"]]
    assert carried and rewritten
    assert len(carried) + len(rewritten) == len(info.files)
    assert len(carried) < v1_files  # at least one file was rewritten

    # over the collect cap (cap=0) the batch keys prune by their
    # min/max range instead of literals — still file-scoped
    info = merge_snapshot(
        spark, root, _merge_df(spark, [30, 31], "cap0"), "doc_id",
        prune_collect_cap=0,
    )
    assert info.row_count == 102
    got = {r.doc_id: r.text for r in read_snapshot(spark, root).collect()}
    assert got[30] == "cap0_30" and got[31] == "cap0_31"
    assert got[5] == "new_5" and got[3] == "a_3" and len(got) == 102
    still = [f for f in info.files if "v00000001" in f["path"]]
    assert still and len(still) < len(carried)


def test_merge_pure_insert_carries_everything(spark, tmp_path):
    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 50, "a").coalesce(2), root, stats_columns=["doc_id"]
    )
    v1 = resolve_snapshot(root)
    info = merge_snapshot(
        spark, root, _merge_df(spark, [900, 901], "ins"), "doc_id"
    )
    assert info.row_count == 52
    # envelopes prove no overlap: every parent file carried verbatim
    assert {f["path"] for f in v1.files} <= {f["path"] for f in info.files}
    # inherited stats: the new file carries doc_id envelopes too
    new = [f for f in info.files if f["path"] not in
           {g["path"] for g in v1.files}]
    assert all("doc_id" in (f.get("stats") or {}) for f in new)


@pytest.mark.parametrize(
    "cap", [snap.DEFAULT_PRUNE_COLLECT_KEYS, 0], ids=["head", "over_cap"]
)
def test_merge_refusals(spark, tmp_path, cap):
    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)

    # NULL and duplicate keys refuse on both routes: driver-side over a
    # complete head, Spark-side jobs over the cap (cap=0)
    with pytest.raises(ValueError, match="duplicate batch key"):
        merge_snapshot(
            spark, root, _merge_df(spark, [1, 1, 2], "d"), "doc_id",
            prune_collect_cap=cap,
        )
    nulls = spark.createDataFrame(
        [(None, "x")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="NULL batch key"):
        merge_snapshot(spark, root, nulls, "doc_id", prune_collect_cap=cap)
    with pytest.raises(ValueError, match="key_field"):
        merge_snapshot(spark, root, _merge_df(spark, [1], "x"), "nope")
    # extra batch column: schema must match the table's exactly
    extra = _merge_df(spark, [1], "x").withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError):
        merge_snapshot(spark, root, extra, "doc_id")
    # missing batch column refuses too
    with pytest.raises(ValueError):
        merge_snapshot(
            spark, root,
            spark.createDataFrame([(1,)], "doc_id bigint"), "doc_id",
        )


def test_merge_refuses_concurrent_commit(spark, tmp_path, monkeypatch):
    """A merge is a REWRITE: racing commit between planning and
    publish refuses loudly (rebasing would drop the concurrent
    commit's rows from the survivors)."""
    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 20, "a"), root)

    real = snap._write_data_prefix
    state = {"raced": False}

    def race(df, root_sp, rel_prefix, compression, stats_columns=(),
             client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if not state["raced"]:
            state["raced"] = True
            append_snapshot(_df(spark, 3, "r"), str(root_sp))
        return out

    monkeypatch.setattr(snap, "_write_data_prefix", race)
    # the race lands after the parent check but before the manifest
    # write: the merge refuses on whichever guard fires first — both
    # name the concurrent writer, neither silently drops rows
    with pytest.raises(RuntimeError, match="concurrent writer|advanced"):
        merge_snapshot(
            spark, root, _merge_df(spark, [1, 2], "m"), "doc_id"
        )
    monkeypatch.undo()
    # ...and the reverse race: an APPEND racing a merge REBASES onto
    # the merge commit — both land
    info = merge_snapshot(
        spark, root, _merge_df(spark, [1, 2], "m"), "doc_id"
    )

    def race2(df, root_sp, rel_prefix, compression, stats_columns=(),
              client=None, **kw):
        out = real(
            df, root_sp, rel_prefix, compression,
            stats_columns=stats_columns, client=client, **kw,
        )
        if state["raced"]:
            state["raced"] = False
            merge_snapshot(
                spark, str(root_sp), _merge_df(spark, [4], "m2"),
                "doc_id",
            )
        return out

    state["raced"] = True
    monkeypatch.setattr(snap, "_write_data_prefix", race2)
    out = append_snapshot(_merge_df(spark, [500], "app"), root)
    monkeypatch.undo()
    got = {r.doc_id: r.text for r in read_snapshot(spark, root).collect()}
    assert got[4] == "m2_4" and got[500] == "app_500"
    assert got[1] == "m_1"


def test_merge_on_evolved_table_aligns_generations(spark, tmp_path):
    """Merging into a table whose files span two schema generations:
    old-generation survivors read with typed-NULL evolved columns,
    the batch ships the full current schema, and the merge result is
    one consistent table."""
    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    append_snapshot(
        _df(spark, 5, "b")
        .select(
            (F.col("doc_id") + 100).alias("doc_id"),
            "text",
            F.lit(1.5).alias("score"),
        ),
        root,
        evolve=True,
    )
    batch = spark.createDataFrame(
        [(3, "m_3", 9.9), (300, "m_300", 8.8)],
        "doc_id bigint, text string, score double",
    )
    info = merge_snapshot(spark, root, batch, "doc_id")
    assert info.row_count == 16
    got = {
        r.doc_id: (r.text, r.score)
        for r in read_snapshot(spark, root).collect()
    }
    assert got[3] == ("m_3", 9.9)
    assert got[300] == ("m_300", 8.8)
    assert got[2] == ("a_2", None)  # old-gen survivor, typed NULL
    assert got[101] == ("b_1", 1.5)


def test_merge_timestamp_keys(spark, tmp_path, micros_ts):
    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    publish_snapshot(
        _ts_df(spark, 12).repartition(3, "ts"), root, stats_columns=["ts"]
    )
    batch = _ts_df(spark, 12).filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "ts"
    )
    info = merge_snapshot(spark, root, batch, "ts")
    got = read_snapshot(spark, root)
    # doc_ids 1,4,7,10 shared that ts and were replaced by ONE row
    assert got.count() == 9
    assert got.filter(F.col("doc_id") == 1001).count() == 1
    assert got.filter(F.col("doc_id").isin(1, 4, 7, 10)).count() == 0
    carried = [f for f in info.files if "v00000001" in f["path"]]
    assert carried, "timestamp prune literals should stay file-scoped"


# ---------------------------------------------------------------------------
# delete-key clustering health check: envelope_overlap_avg
# ---------------------------------------------------------------------------


def test_envelope_overlap_metric_flags_unclustered_keys(spark, tmp_path):
    """snapshot_table_stats.envelope_overlap_avg ~1 on a key-clustered
    layout (deletes/merges scope), >>1 on a hash-scattered one (they
    silently degrade to O(table) — the BENCH_SCALE negative probe)."""
    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import snapshot_table_stats

    base = spark.range(4000).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    clustered = str(tmp_path / "clus")
    publish_snapshot(
        base.repartitionByRange(8, "doc_id").sortWithinPartitions(
            "doc_id"
        ),
        clustered,
        stats_columns=["doc_id"],
    )
    scattered = str(tmp_path / "scat")
    publish_snapshot(
        base.repartition(8, "doc_id"), scattered,
        stats_columns=["doc_id"],
    )
    c = snapshot_table_stats(clustered)["envelope_overlap_avg"]["doc_id"]
    s = snapshot_table_stats(scattered)["envelope_overlap_avg"]["doc_id"]
    assert c == 1.0
    assert s > 3.0  # endpoint sampling reads ~files/2 when straddling
    # no stats published -> the metric is simply absent for the column
    none = str(tmp_path / "none")
    publish_snapshot(base.coalesce(1), none)
    assert snapshot_table_stats(none)["envelope_overlap_avg"] == {}


# ---------------------------------------------------------------------------
# round-15 review-pass fixes
# ---------------------------------------------------------------------------


def test_collected_prune_literal_dst_and_zone_edges(spark):
    """Wall-clock -> instant is not injective: DST-ambiguous and
    imaginary times, and Spark-legal zone spellings zoneinfo cannot
    resolve, all return the value UNCONVERTED (the naive instant then
    trips the pruner's refusal and the caller degrades to the full
    rewrite instead of mispruning)."""
    from pyspark.sql import types as T

    from smashed_spark.sources.snapshot import _collected_prune_literal

    ts = T.TimestampType()
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Los_Angeles")
        ok = dt.datetime(2024, 6, 1, 12, 0)
        out = _collected_prune_literal(spark, ok, ts)
        assert out.tzinfo is not None
        assert out.astimezone(dt.timezone.utc).hour == 19  # PDT +7
        ambiguous = dt.datetime(2024, 11, 3, 1, 30)  # fall-back hour
        assert _collected_prune_literal(spark, ambiguous, ts) is ambiguous
        imaginary = dt.datetime(2024, 3, 10, 2, 30)  # spring-forward gap
        assert _collected_prune_literal(spark, imaginary, ts) is imaginary
        spark.conf.set(key, "GMT+8")  # Spark-legal, zoneinfo-unknown
        naive = dt.datetime(2024, 6, 1, 12, 0)
        assert _collected_prune_literal(spark, naive, ts) is naive
    finally:
        spark.conf.set(key, prev)
    # non-instant types never convert
    assert (
        _collected_prune_literal(
            spark, dt.datetime(2024, 1, 1), T.TimestampNTZType()
        ).tzinfo
        is None
    )


def test_merge_refuses_empty_batch(spark, tmp_path):
    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 10, "a"), root)
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="empty batch"):
        merge_snapshot(spark, root, empty, "doc_id")
    assert resolve_snapshot(root).version == 1  # nothing published


def test_as_of_refuses_legacy_manifest_without_committed_at(
    spark, tmp_path
):
    """A chain manifest predating committed_at cannot be ordered
    against an instant — defaulting it to epoch 0 would silently
    serve a state NEWER than asked for."""
    root = _root(tmp_path)
    v1 = publish_snapshot(_df(spark, 5, "a"), root)
    path = tmp_path / "table" / snap._manifest_key(1)
    doc = json.loads(path.read_text())
    del doc["committed_at"]
    path.write_text(json.dumps(doc))
    with pytest.raises(ValueError, match="committed_at"):
        resolve_snapshot(root, as_of=v1.committed_at + 100)


def test_overlap_metric_counts_statless_files(spark, tmp_path):
    """Files without an envelope are touched by EVERY keyed
    delete/merge — the health check counts them instead of reporting
    a clean ~1.0 on a half-blind table."""
    from smashed_spark.sources.snapshot import snapshot_table_stats

    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 100, "a")
        .repartitionByRange(4, "doc_id")
        .sortWithinPartitions("doc_id"),
        root,
        stats_columns=["doc_id"],
    )
    assert (
        snapshot_table_stats(root)["envelope_overlap_avg"]["doc_id"]
        == 1.0
    )
    # an explicit stats-less append adds 2 always-touched files
    append_snapshot(
        _df(spark, 10, "b").coalesce(2).withColumn(
            "doc_id", snap.F.col("doc_id") + 200
        ),
        root,
        stats_columns=(),
    )
    got = snapshot_table_stats(root)["envelope_overlap_avg"]["doc_id"]
    assert got == 3.0  # 1.0 scoped + 2 blind files


def test_append_inherits_stats_columns_by_default(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _root(tmp_path)
    publish_snapshot(
        _df(spark, 20, "a").withColumn(
            "doc_id", F.col("doc_id").cast("int")
        ),
        root,
        stats_columns=["doc_id"],
    )
    info = append_snapshot(
        _df(spark, 5, "b").select(
            (F.col("doc_id") + 100).cast("int").alias("doc_id"), "text"
        ),
        root,
    )
    new = [f for f in info.files if "v00000002" in f["path"]]
    assert new and all("doc_id" in (f.get("stats") or {}) for f in new)
    # evolve widens doc_id out of eligibility (int -> double): the
    # inherited set drops it instead of crashing the append — and the
    # next compact inherits safely too
    wide = spark.range(300, 303).select(
        F.col("id").cast("double").alias("doc_id"),
        F.lit("w").alias("text"),
    )
    info2 = append_snapshot(wide, root, evolve=True)
    assert info2.columns["doc_id"] == "double"
    compacted = compact_snapshot(spark, root, target_file_bytes=1 << 20)
    assert all(
        "doc_id" not in (f.get("stats") or {})
        for f in compacted.files
    )


# ---------------------------------------------------------------------------
# merge: transformed-table layout and s3 tier
# ---------------------------------------------------------------------------

BUCKET = "smashed-test-bucket"


@pytest.fixture()
def s3():
    boto3 = pytest.importorskip("boto3")
    moto = pytest.importorskip("moto")
    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=BUCKET)
        yield client


def test_merge_on_transformed_table_keeps_layout(spark, tmp_path):
    """Merging into a bucket-partitioned table: the rewrite inherits
    the directory layout (carried commits must not mix layouts), new
    files land in transform dirs with recorded partition values, and
    directory pruning still works afterwards."""
    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import merge_snapshot

    root = _root(tmp_path)
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias(
            "user"
        ),
    )
    publish_snapshot(
        df, root, partition_transforms={"b4": ("bucket", "user", 4)}
    )
    batch = spark.createDataFrame(
        [(5, "u5"), (500, "u500")], "doc_id bigint, user string"
    )
    info = merge_snapshot(spark, root, batch, "doc_id")
    assert info.partition_transforms == {"b4": ["bucket", "user", 4]}
    new = [f for f in info.files if "v00000002" in f["path"]]
    assert new and all("b4" in (f.get("partition") or {}) for f in new)
    got = {r.doc_id: r.user for r in read_snapshot(spark, root).collect()}
    assert got[5] == "u5" and got[500] == "u500" and len(got) == 101
    # directory pruning still serves equality predicates on the source
    plan = plan_snapshot_scan(info, [("user", "=", "u3")])
    assert plan["files_skipped"] > 0


def test_s3_merge_roundtrip(spark, s3):
    from smashed_spark.sources.snapshot import merge_snapshot

    root = f"s3://{BUCKET}/tables/merge"
    publish_snapshot(
        _df(spark, 50, "a").coalesce(2), root,
        stats_columns=["doc_id"], client=s3,
    )
    batch = _df(spark, 3, "m").withColumn(
        "doc_id", snap.F.col("doc_id") + 48
    )
    info = merge_snapshot(
        spark, root, batch, "doc_id",
        client=s3, allow_driver_download=True,
    )
    assert info.version == 2 and info.row_count == 51
    got = read_snapshot(
        spark, root, client=s3, allow_driver_download=True
    )
    rows = {r.doc_id: r.text for r in got.collect()}
    assert rows[48] == "m_0" and rows[49] == "m_1" and rows[50] == "m_2"
    assert rows[0] == "a_0" and len(rows) == 51


def test_sink_appends_inherit_stats_columns(spark, tmp_path):
    """Review pass 2: the streaming sink's default must inherit the
    table's envelope-stats set on every append — a stream that
    silently skipped stats would add files every later keyed
    delete/merge has to rewrite."""
    from smashed_spark.sources.snapshot import snapshot_table_stats
    from smashed_spark.streaming.snapshot_sink import (
        snapshot_batch_writer,
    )

    root = _root(tmp_path)
    # seed the table WITH stats (the first sink batch is a publish
    # with no parent — seed explicitly, as the docstring says)
    publish_snapshot(_df(spark, 20, "a"), root, stats_columns=["doc_id"])
    write_batch = snapshot_batch_writer(root, app_id="t")
    write_batch(
        _df(spark, 5, "b").withColumn(
            "doc_id", snap.F.col("doc_id") + 100
        ),
        0,
    )
    info = resolve_snapshot(root)
    assert info.version == 2
    new = [f for f in info.files if "v00000002" in f["path"]]
    assert new and all("doc_id" in (f.get("stats") or {}) for f in new)
    assert (
        snapshot_table_stats(root)["envelope_overlap_avg"]["doc_id"]
        >= 1.0
    )


# ---------------------------------------------------------------------------
# restore_snapshot: Delta-style ROLLBACK as a new commit
# ---------------------------------------------------------------------------


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    from smashed_spark.sources.snapshot import (
        restore_snapshot,
        snapshot_history,
    )

    root = _root(tmp_path)
    v1 = publish_snapshot(_df(spark, 10, "a"), root)
    append_snapshot(_df(spark, 5, "b").withColumn(
        "doc_id", snap.F.col("doc_id") + 100), root)
    apply_deletions_snapshot(spark, root, [0, 1], "doc_id")
    assert resolve_snapshot(root).row_count == 13

    info = restore_snapshot(root, version=1)
    assert info.version == 4 and info.operation == "restore"
    assert info.row_count == 10
    got = read_snapshot(spark, root)
    assert sorted(r.doc_id for r in got.collect()) == list(range(10))
    # the deleted rows are resurrected (the documented caveat)
    assert got.filter("doc_id IN (0, 1)").count() == 2
    # history shows the restore; the bad versions stay readable
    hist = snapshot_history(root)
    assert hist[0]["operation"] == "restore"
    assert read_snapshot(spark, root, version=3).count() == 13
    # audit marker — surfaced through the public API, not just JSON
    assert info.restored_from == 1 and info.parent == 3
    assert hist[0]["restored_from"] == 1
    doc = json.loads(
        (tmp_path / "table" / snap._manifest_key(4)).read_text()
    )
    assert doc["restored_from"] == 1 and doc["parent"] == 3
    # metadata-only: the restored head references v1's physical prefix
    assert set(info.prefixes) == set(v1.prefixes)

    with pytest.raises(ValueError, match="already the current head"):
        restore_snapshot(root, version=4)


def test_restore_as_of_and_vacuum_survival(spark, tmp_path):
    from smashed_spark.sources.snapshot import restore_snapshot

    root = _root(tmp_path)
    v1 = publish_snapshot(_df(spark, 8, "a"), root)
    publish_snapshot(_df(spark, 20, "bad"), root)  # the bad ingest
    info = restore_snapshot(root, as_of=v1.committed_at)
    assert info.row_count == 8
    # vacuum keeps the restored head's (old) prefixes alive
    vacuum_snapshots(root, keep_last=1, drop_unpublished=True)
    assert read_snapshot(spark, root).count() == 8


def test_restore_preserves_stream_watermark(spark, tmp_path):
    """Restoring old DATA must not restore an old stream watermark —
    the next redelivered micro-batch would double-append."""
    from smashed_spark.sources.snapshot import restore_snapshot
    from smashed_spark.streaming.snapshot_sink import (
        snapshot_batch_writer,
        stream_commit_watermark,
    )

    root = _root(tmp_path)
    wb = snapshot_batch_writer(root, app_id="app")
    wb(_df(spark, 5, "a"), 0)
    wb(_df(spark, 3, "b").withColumn(
        "doc_id", snap.F.col("doc_id") + 100), 1)
    restore_snapshot(root, version=1)
    assert stream_commit_watermark(root) == ("app", 1)
    wb(_df(spark, 3, "b"), 1)  # redelivery: must stay a no-op
    assert resolve_snapshot(root).row_count == 5


def test_restore_refuses_concurrent_commit(spark, tmp_path, monkeypatch):
    from smashed_spark.sources.snapshot import restore_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a"), root)
    append_snapshot(_df(spark, 2, "b").withColumn(
        "doc_id", snap.F.col("doc_id") + 10), root)

    # the race lands while the restore is still planning (same place
    # the publish race sims hook: before the manifest-exists check) —
    # the detection contract is exists-refusal or pointer-moved
    # refusal, minus the documented same-millisecond TOCTOU window
    real = snap._next_version
    state = {"raced": False}

    def race(root_sp, client=None):
        out = real(root_sp, client=client)
        if not state["raced"]:
            state["raced"] = True
            append_snapshot(_df(spark, 1, "r").withColumn(
                "doc_id", snap.F.col("doc_id") + 50), root)
        return out

    monkeypatch.setattr(snap, "_next_version", race)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        restore_snapshot(root, version=1)
    monkeypatch.undo()
    # the racing append won; the table is intact
    assert resolve_snapshot(root).row_count == 8


def test_restore_reverts_schema_generations(spark, tmp_path):
    from pyspark.sql import functions as F

    from smashed_spark.sources.snapshot import restore_snapshot

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 6, "a"), root)
    append_snapshot(
        _df(spark, 2, "b")
        .select((F.col("doc_id") + 100).alias("doc_id"), "text")
        .withColumn("score", F.lit(1.0)),
        root,
        evolve=True,
    )
    assert "score" in resolve_snapshot(root).columns
    info = restore_snapshot(root, version=1)
    assert "score" not in info.columns
    got = read_snapshot(spark, root)
    assert set(got.columns) == {"doc_id", "text"} and got.count() == 6
    # appends against the restored (old) schema work again
    append_snapshot(_df(spark, 2, "c").withColumn(
        "doc_id", snap.F.col("doc_id") + 200), root)
    assert resolve_snapshot(root).row_count == 8


def test_changes_read_refuses_across_restore(spark, tmp_path):
    from smashed_spark.sources.snapshot import (
        read_snapshot_changes,
        restore_snapshot,
    )

    root = _root(tmp_path)
    publish_snapshot(_df(spark, 5, "a"), root)
    append_snapshot(_df(spark, 2, "b").withColumn(
        "doc_id", snap.F.col("doc_id") + 10), root)
    restore_snapshot(root, version=1)
    with pytest.raises(ValueError, match="non-append"):
        read_snapshot_changes(spark, root, since_version=1)


def test_s3_restore_roundtrip(spark, s3):
    from smashed_spark.sources.snapshot import restore_snapshot

    root = f"s3://{BUCKET}/tables/restore"
    publish_snapshot(_df(spark, 10, "a"), root, client=s3)
    publish_snapshot(_df(spark, 30, "bad"), root, client=s3)
    info = restore_snapshot(root, version=1, client=s3)
    assert info.version == 3 and info.row_count == 10
    assert info.restored_from == 1
    got = read_snapshot(
        spark, root, client=s3, allow_driver_download=True
    )
    assert got.count() == 10
