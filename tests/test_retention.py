"""sources/retention.py — forget-list deletion and retention sweeps."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from smashed_spark.core import sizing
from smashed_spark.sources.retention import (
    apply_deletions,
    drop_partitions_older_than,
    recover_retention_swap,
)


def _corpus(spark, n=1000):
    return spark.createDataFrame(
        [(i, f"user{i % 50}", f"text {i}") for i in range(n)],
        "doc_id bigint, author string, text string",
    )


def test_apply_deletions_broadcast_tier(spark, tmp_path):
    path = str(tmp_path / "ds")
    _corpus(spark).repartition(8).write.parquet(path)
    forget = spark.createDataFrame(
        [(i,) for i in range(0, 1000, 10)], "doc_id bigint"
    )
    report = apply_deletions(
        spark, path, forget, "doc_id", verify_all_deleted=True
    )
    assert report["strategy"] == "broadcast"
    assert report["rows_before"] == 1000
    assert report["rows_deleted"] == 100
    assert report["rows_after"] == 900
    assert report["remaining_matches"] == 0
    back = spark.read.parquet(path)
    assert back.count() == 900
    assert back.filter(F.col("doc_id") % 10 == 0).count() == 0
    # non-deleted data untouched
    assert back.filter("doc_id = 7").first()["text"] == "text 7"


def test_apply_deletions_plain_tier_equal_result(
    spark, tmp_path, monkeypatch
):
    """A tiny shared key cap forces the shuffled anti-join; survivors
    must be identical to the broadcast tier's."""
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    _corpus(spark).repartition(4).write.parquet(p1)
    _corpus(spark).repartition(4).write.parquet(p2)
    forget = [3, 5, 7, 999]
    r1 = apply_deletions(spark, p1, forget, "doc_id")
    monkeypatch.setattr(sizing, "BROADCAST_KEYS", 2)
    r2 = apply_deletions(spark, p2, forget, "doc_id")
    assert r1["strategy"] == "broadcast" and r2["strategy"] == "plain"
    assert r1["rows_deleted"] == r2["rows_deleted"] == 4
    a = spark.read.parquet(p1)
    b = spark.read.parquet(p2)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_apply_deletions_python_sequence_and_strings(spark, tmp_path):
    path = str(tmp_path / "s")
    _corpus(spark, 200).write.parquet(path)
    report = apply_deletions(
        spark, path, ["user1", "user2"], "author"
    )
    assert report["rows_deleted"] == 8  # 200/50 = 4 docs per author
    assert (
        spark.read.parquet(path)
        .filter(F.col("author").isin("user1", "user2"))
        .count()
        == 0
    )


def test_apply_deletions_null_key_raises(spark, tmp_path):
    path = str(tmp_path / "n")
    _corpus(spark, 10).write.parquet(path)
    forget = spark.createDataFrame([(1,), (None,)], "doc_id bigint")
    with pytest.raises(ValueError, match="NULL"):
        apply_deletions(spark, path, forget, "doc_id")
    # dataset untouched by the refused call
    assert spark.read.parquet(path).count() == 10


def test_apply_deletions_refusals(spark, tmp_path):
    path = str(tmp_path / "r")
    _corpus(spark, 10).write.parquet(path)
    with pytest.raises(ValueError, match="empty"):
        apply_deletions(spark, path, [], "doc_id")
    with pytest.raises(ValueError, match="not in dataset columns"):
        apply_deletions(spark, path, [1], "nope")
    with pytest.raises(ValueError, match="atomic"):
        apply_deletions(spark, "s3://b/ds", [1], "doc_id")
    with pytest.raises(ValueError, match="not a directory"):
        apply_deletions(spark, str(tmp_path / "missing"), [1], "doc_id")


def test_apply_deletions_partitioned_preserved(spark, tmp_path):
    path = str(tmp_path / "p")
    df = _corpus(spark, 300).withColumn(
        "day", F.concat(F.lit("2024-01-0"), (F.col("doc_id") % 3 + 1))
    )
    df.write.partitionBy("day").parquet(path)
    # every 10th doc: deletions land in ALL THREE day partitions
    report = apply_deletions(spark, path, list(range(0, 300, 10)), "doc_id")
    assert report["rows_deleted"] == 30
    # partition directories survive the rewrite
    days_on_disk = sorted(
        d for d in os.listdir(path) if d.startswith("day=")
    )
    assert days_on_disk == ["day=2024-01-01", "day=2024-01-02",
                            "day=2024-01-03"]
    back = spark.read.parquet(path)
    assert back.count() == 270
    assert back.filter("day = '2024-01-02'").count() == 90

    # a fully-emptied partition vanishes (correct hive semantics: an
    # empty partition has no files to anchor its directory)
    report2 = apply_deletions(
        spark, path, [i for i in range(300) if i % 3 == 0], "doc_id"
    )
    assert report2["rows_after"] == 180
    assert sorted(
        d for d in os.listdir(path) if d.startswith("day=")
    ) == ["day=2024-01-02", "day=2024-01-03"]


def test_apply_deletions_partition_scope(spark, tmp_path):
    """Scoped rewrite touches ONLY the named partition directories —
    other partitions keep their original files on disk."""
    path = str(tmp_path / "sc")
    df = _corpus(spark, 300).withColumn(
        "day", F.concat(F.lit("2024-01-0"), (F.col("doc_id") % 3 + 1))
    )
    df.write.partitionBy("day").parquet(path)

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    untouched_before = files_of("2024-01-03")
    # doc_id % 3 == 0 -> day=2024-01-01; scope the rewrite there
    report = apply_deletions(
        spark,
        path,
        list(range(0, 300, 3)),
        "doc_id",
        partition_scope={"day": ["2024-01-01"]},
    )
    assert report["scoped_partitions"] == ["day=2024-01-01"]
    assert report["rows_deleted"] == 100
    assert files_of("2024-01-03") == untouched_before
    assert spark.read.parquet(path).count() == 200

    with pytest.raises(ValueError, match="not a partition column"):
        apply_deletions(
            spark, path, [1], "doc_id", partition_scope={"x": ["v"]}
        )
    with pytest.raises(ValueError, match="missing on disk"):
        apply_deletions(
            spark,
            path,
            [1],
            "doc_id",
            partition_scope={"day": ["2024-01-09"]},
        )


def test_apply_deletions_empty_dataframe_forget_list_raises(
    spark, tmp_path
):
    """An empty DataFrame forget list must raise like the sequence
    tier does — not trigger a full rewrite that deletes nothing."""
    path = str(tmp_path / "e")
    _corpus(spark, 20).write.parquet(path)
    files_before = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    empty = spark.createDataFrame([], "doc_id bigint")
    with pytest.raises(ValueError, match="empty forget list"):
        apply_deletions(spark, path, empty, "doc_id")
    # and the dataset was not rewritten
    assert sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    ) == files_before


def test_apply_deletions_scoped_crash_recovery(spark, tmp_path):
    """The scoped rewrite's crash window (partition dir removed,
    staging complete) must be repaired at the next apply_deletions
    entry — not raise 'scoped partitions missing on disk' forever."""
    path = str(tmp_path / "scr")
    df = _corpus(spark, 90).withColumn(
        "day", F.concat(F.lit("2024-01-0"), (F.col("doc_id") % 3 + 1))
    )
    df.write.partitionBy("day").parquet(path)
    pdir = os.path.join(path, "day=2024-01-01")
    staging = os.path.join(
        path, ".day=2024-01-01.__retention_staging__"
    )
    # complete staging snapshot (the crashed run's survivors), then
    # "crash" after the rmtree
    spark.read.parquet(pdir).filter("doc_id >= 30").coalesce(
        1
    ).write.parquet(staging)
    assert os.path.isfile(os.path.join(staging, "_SUCCESS"))
    shutil.rmtree(pdir)
    # re-run of the same scoped deletion: recovery first, then rewrite
    report = apply_deletions(
        spark,
        path,
        [0],
        "doc_id",
        partition_scope={"day": ["2024-01-01"]},
    )
    assert not os.path.exists(staging)
    back = spark.read.parquet(path).filter("day = '2024-01-01'")
    # recovered survivors (doc_id >= 30 of day 1) minus the new
    # deletion target... 0 was already gone with the crashed rewrite
    assert back.filter("doc_id < 30").count() == 0
    assert report["rows_before"] > 0


def test_apply_deletions_crash_recovery(spark, tmp_path):
    path = str(tmp_path / "cr")
    _corpus(spark, 100).write.parquet(path)
    staging = os.path.join(
        str(tmp_path), ".cr.__retention_staging__"
    )
    spark.read.parquet(path).filter("doc_id >= 50").coalesce(1).write.parquet(
        staging
    )
    shutil.rmtree(path)
    assert recover_retention_swap(path) is True
    assert spark.read.parquet(path).count() == 50
    assert recover_retention_swap(path) is False


def test_drop_partitions_older_than(spark, tmp_path):
    path = str(tmp_path / "ret")
    df = _corpus(spark, 300).withColumn(
        "day", F.concat(F.lit("2024-01-0"), (F.col("doc_id") % 5 + 1))
    )
    df.write.partitionBy("day").parquet(path)
    dry = drop_partitions_older_than(
        path, "day", "2024-01-03", dry_run=True
    )
    assert dry["partitions_dropped"] == ["2024-01-01", "2024-01-02"]
    assert len(os.listdir(path)) >= 5  # nothing removed on dry run

    report = drop_partitions_older_than(path, "day", "2024-01-03")
    assert report["partitions_dropped"] == ["2024-01-01", "2024-01-02"]
    assert report["partitions_kept"] == 3
    back = spark.read.parquet(path)
    assert back.count() == 180
    # Spark type-infers the partition value back as a date
    assert str(back.agg(F.min("day")).first()[0]) == "2024-01-03"
    # idempotent re-run: nothing left below the cutoff
    again = drop_partitions_older_than(path, "day", "2024-01-03")
    assert again["partitions_dropped"] == []

    with pytest.raises(ValueError, match="no other="):
        drop_partitions_older_than(
            str(tmp_path / "ret"), "other", "2024-01-01"
        )
