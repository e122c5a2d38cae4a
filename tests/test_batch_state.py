"""The staged-swap state protocol (sources/batch_state.py) as the
ingest indexes and the rollups use it: the ``_SUCCESS`` refusal, the
read of a state folded before the manifest existed, and the manifest
exclusion on ingest reads."""

import json
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from smashed_spark.functions.rollup import (
    RollupSpec,
    compact_rollup_state,
    read_rollup,
    rollup_ingest_batch,
)
from smashed_spark.sources.batch_state import read_batches
from smashed_spark.streaming.ingest import (
    _DIGEST_SCHEMA,
    _read_state,
    compact_ingest_state,
    ingest_dedup_batch,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: bigint, text: string")


def _text(tag):
    return " ".join(f"{tag}{i}" for i in range(25))


def _ingest(spark, state, out, *ids):
    for i in ids:
        ingest_dedup_batch(
            _docs(spark, [(i, _text(f"t{i}_"))]), state, out, batch_id=i
        )


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


@contextmanager
def _no_success_marker(spark):
    """Spark writes without the ``_SUCCESS`` marker while inside."""
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = conf.get(key)
    conf.set(key, "false")
    try:
        yield
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


def test_fold_refuses_staging_without_success(spark, tmp_path):
    """A staging write without ``_SUCCESS`` is not swapped in: a crash
    after the swap's remove could not be recovered from it.  Both
    stores raise and keep their ``batch=-1`` and the partitions they
    meant to fold."""
    state, out = str(tmp_path / "ingest"), str(tmp_path / "out")
    _ingest(spark, state, out, 0, 1)
    compact_ingest_state(spark, state)
    _ingest(spark, state, out, 2)
    digests = os.path.join(state, "digests")
    before = _rows(spark, os.path.join(digests, "batch=-1"))
    with _no_success_marker(spark), pytest.raises(
        RuntimeError, match="_SUCCESS"
    ):
        compact_ingest_state(spark, state)
    assert _rows(spark, os.path.join(digests, "batch=-1")) == before
    assert os.path.isdir(os.path.join(digests, "batch=1"))

    spec = RollupSpec(keys=("event_type",), values=("value",))
    roll = str(tmp_path / "rollup")
    for i in range(3):
        rollup_ingest_batch(
            spark,
            roll,
            spark.createDataFrame(
                [(f"2024-01-01 0{i}:00:00", "click", float(i))],
                "ts string, event_type string, value double",
            ).withColumn("ts", F.col("ts").cast("timestamp")),
            i,
            spec,
        )
        if i == 1:
            compact_rollup_state(spark, roll, spec)
    folded = os.path.join(roll, "rollup", "batch=-1")
    before = _rows(spark, folded)
    with _no_success_marker(spark), pytest.raises(
        RuntimeError, match="_SUCCESS"
    ):
        compact_rollup_state(spark, roll, spec)
    assert _rows(spark, folded) == before
    assert os.path.isdir(os.path.join(roll, "rollup", "batch=1"))
    merged = read_rollup(spark, roll, spec).collect()
    assert sum(r.n_events for r in merged) == 3


def test_parent_format_ingest_state_reads(spark, tmp_path):
    """An ingest ``batch=-1`` folded before compaction kept a manifest
    (no ``_folded.json``) reads as an empty manifest: every partition
    is visible, and the next compaction folds the tail."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    _ingest(spark, state, out, 0, 1, 2)
    compact_ingest_state(spark, state, fuzzy=False)
    root = os.path.join(state, "digests")
    os.remove(os.path.join(root, "batch=-1", "_folded.json"))
    want = sorted(
        r.digest
        for b in ("batch=-1", "batch=2")
        for r in spark.read.parquet(os.path.join(root, b)).collect()
    )
    got = _read_state(spark, root, _DIGEST_SCHEMA).collect()
    assert sorted(r.digest for r in got) == want and len(want) == 3
    # a repost of folded history still drops
    ingest_dedup_batch(
        _docs(spark, [(30, _text("t0_")), (31, _text("fresh"))]),
        state, out, batch_id=3, fuzzy=False,
    )
    kept = spark.read.parquet(os.path.join(out, "batch=3")).collect()
    assert [r.doc_id for r in kept] == [31]
    compact_ingest_state(spark, state, fuzzy=False)
    assert sorted(os.listdir(root)) == ["batch=-1", "batch=3"]
    with open(os.path.join(root, "batch=-1", "_folded.json")) as f:
        assert json.load(f) == []


def test_ingest_read_excludes_listed_leftovers(spark, tmp_path):
    """A partition the compaction manifest lists (a compaction that
    crashed after its swap) is left out of the index read, and the
    next compaction deletes it without merging it again."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    _ingest(spark, state, out, 0, 1)
    root = os.path.join(state, "digests")
    leftover = _rows(spark, os.path.join(root, "batch=0"))
    compact_ingest_state(spark, state, fuzzy=False)
    # the crash state: batch 0 folded and listed, its partition kept
    spark.createDataFrame(
        [("leftover-only",)], "digest: string"
    ).write.parquet(os.path.join(root, "batch=0"))
    with open(os.path.join(root, "batch=-1", "_folded.json"), "w") as f:
        json.dump([0], f)
    read = read_batches(spark, root, _DIGEST_SCHEMA).collect()
    digests = {r.digest for r in read}
    assert "leftover-only" not in digests
    assert {d for (d,) in leftover} <= digests
    compact_ingest_state(spark, state, fuzzy=False)
    assert sorted(os.listdir(root)) == ["batch=-1", "batch=1"]
    read = _read_state(spark, root, _DIGEST_SCHEMA).collect()
    assert "leftover-only" not in {r.digest for r in read}


def _has_join(df) -> bool:
    return "Join" in df._jdf.queryExecution().optimizedPlan().toString()


def test_empty_state_plans_as_known_empty_relation(spark, tmp_path):
    """An absent state reads as an empty relation Catalyst can SEE is
    empty, so the optimizer drops a first batch's anti-join against it
    (an opaque empty RDD would still run the join's shuffles)."""
    batch = _docs(spark, [(1, "a"), (2, "b")]).withColumn(
        "digest", F.md5("text")
    )
    empty = read_batches(spark, str(tmp_path / "absent"), _DIGEST_SCHEMA)
    assert empty.dtypes == [("digest", "string")]
    joined = batch.join(empty, "digest", "left_anti")
    assert not _has_join(joined)
    assert sorted(r.doc_id for r in joined.collect()) == [1, 2]
    # a real (non-empty) state keeps its join
    _ingest(spark, str(tmp_path / "state"), str(tmp_path / "out"), 0)
    state = _read_state(
        spark, str(tmp_path / "state" / "digests"), _DIGEST_SCHEMA
    )
    assert _has_join(batch.join(state, "digest", "left_anti"))
