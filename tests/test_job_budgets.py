"""Job budgets for the verbs that route broadcast-or-shuffle through
core/sizing.py, and for both index-check modes of the incremental
dedup tiers: each verb's Spark job count on a fixed small input, so a
change that adds a job (a second sizing probe, a lost known count)
fails here instead of surfacing later as benchmark drift.  Both tiers
of every routed decision are pinned."""

from pyspark.sql import functions as F

from smashed_spark.core import sizing
from smashed_spark.functions.dedup import (
    dedup_incremental,
    dedup_incremental_fuzzy,
    with_digests,
    with_minhash_bands,
)
from smashed_spark.sources.attributes import join_attributes, write_attributes
from smashed_spark.sources.retention import apply_deletions
from smashed_spark.sources.snapshot import (
    apply_deletions_snapshot,
    merge_snapshot,
    publish_snapshot,
)
from smashed_spark.streaming.ingest import ingest_dedup_batch


def _docs(spark, ids, tag="t"):
    return spark.createDataFrame(
        [(i, " ".join(f"{tag}{i}_{j}" for j in range(20))) for i in ids],
        "doc_id: bigint, text: string",
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def test_ingest_batch_job_budget(spark, tmp_path, count_jobs):
    # batch 0 reads an empty index (Catalyst drops both dedup joins);
    # batch 1 reposts 3 docs against a committed index
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    b0 = _docs(spark, range(10))
    b1 = _docs(spark, list(range(3)) + list(range(10, 15)))
    _, first = count_jobs(lambda: ingest_dedup_batch(b0, state, out, 0))
    _, later = count_jobs(lambda: ingest_dedup_batch(b1, state, out, 1))
    assert (first, later) == (10, 14)


def test_dedup_incremental_job_budgets(spark, tmp_path, count_jobs):
    # a 20-doc history index on disk; the batch reposts 5 of its docs
    hist = _docs(spark, range(20)).withColumn("words", F.split("text", " "))
    with_digests(hist).write.parquet(str(tmp_path / "digests"))
    with_minhash_bands(hist).write.parquet(str(tmp_path / "bands"))
    digests = spark.read.parquet(str(tmp_path / "digests"))
    bands = spark.read.parquet(str(tmp_path / "bands"))
    batch = _docs(spark, list(range(5)) + list(range(20, 30)))
    words = batch.withColumn("words", F.split("text", " "))
    jobs = {}
    for probe in (False, True):
        _, jobs["exact", probe] = count_jobs(
            lambda: _noop(
                dedup_incremental(batch, digests, broadcast_probe=probe)
            )
        )
        _, jobs["fuzzy", probe] = count_jobs(
            lambda: _noop(
                dedup_incremental_fuzzy(words, bands, broadcast_probe=probe)
            )
        )
    assert jobs == {
        ("exact", False): 3,
        ("exact", True): 6,
        ("fuzzy", False): 7,
        ("fuzzy", True): 10,
    }


def test_apply_deletions_job_budget(spark, tmp_path, count_jobs, monkeypatch):
    paths = [str(tmp_path / t) for t in ("bcast", "plain")]
    for p in paths:
        spark.range(200).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("text")
        ).repartition(4).write.parquet(p)
    forget = [3, 5, 7, 999]
    bcast, jobs_b = count_jobs(
        lambda: apply_deletions(spark, paths[0], forget, "doc_id")
    )
    monkeypatch.setattr(sizing, "BROADCAST_KEYS", 2)
    plain, jobs_p = count_jobs(
        lambda: apply_deletions(spark, paths[1], forget, "doc_id")
    )
    assert (bcast["strategy"], plain["strategy"]) == ("broadcast", "plain")
    assert (jobs_b, jobs_p) == (7, 9)


def test_join_attributes_job_budget(spark, tmp_path, count_jobs, monkeypatch):
    docs = _docs(spark, range(50)).withColumn(
        "score", F.col("doc_id") * 0.5
    )
    path = str(tmp_path / "attrs")
    write_attributes(docs, path, attribute_fields=["score"])
    corpus = docs.select("doc_id", "text")
    _, under = count_jobs(lambda: _noop(join_attributes(corpus, path)))
    monkeypatch.setattr(sizing, "BROADCAST_KEYS", 10)
    _, over = count_jobs(lambda: _noop(join_attributes(corpus, path)))
    assert (under, over) == (6, 6)


def test_positional_snapshot_verbs_job_budget(spark, tmp_path, count_jobs):
    root = str(tmp_path / "table")
    publish_snapshot(
        _docs(spark, range(200)).repartition(4, "text"), root,
        stats_columns=["doc_id"],
    )
    _, delete = count_jobs(
        lambda: apply_deletions_snapshot(
            spark, root, [5, 17, 144], "doc_id", positional=True
        )
    )
    batch = _docs(spark, [1, 2, 300], tag="u")
    _, merge = count_jobs(
        lambda: merge_snapshot(spark, root, batch, "doc_id", positional=True)
    )
    assert (delete, merge) == (6, 12)
