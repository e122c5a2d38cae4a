"""Daily ingestion dedup: each batch is scrubbed against two compact
running indexes — exact content digests (32 B/doc) and MinHash band
keys (~144 B/doc at the defaults) — so reposts AND near-reposts of
anything ever ingested are dropped WITHOUT rescanning the historical
corpus.  The indexes are the only state that persists between days;
at 100 TB of history they are a few GB, and each day's cost is the
day's data, not the archive's.

Day 1 seeds the indexes; day 2 (half reposts, half near-reposts,
some fresh) demonstrates both drop paths plus batch-internal
first-wins dedup.

The same composition runs over an unbounded feed via
smashed_spark.streaming.ingest.streaming_ingest_dedup — a foreachBatch
loop that persists these indexes as parquet with idempotent
overwrite-by-batch-id commits.

Run: python examples/ingest_daily.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from smashed_spark.functions.dedup import (
    dedup_incremental,
    dedup_incremental_fuzzy,
    with_digests,
    with_minhash_bands,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[*]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    # ---- day 1: even doc_ids arrive; indexes start empty ------------
    day1 = docs.filter(F.col("doc_id") % 2 == 0)
    digest_index = with_digests(day1.limit(0))
    band_index = spark.createDataFrame([], "band: int, key: string")

    kept1 = dedup_incremental(day1, digest_index)
    kept1 = dedup_incremental_fuzzy(
        kept1.withColumn("words", F.split("text", " ")), band_index
    )
    digest_index = digest_index.unionByName(with_digests(kept1)).distinct()
    # survivors carry their minhash column: the index extension never
    # re-shingles the text
    band_index = band_index.unionByName(
        with_minhash_bands(kept1.drop("words", "text"))
    ).distinct()
    n1 = kept1.count()
    print(f"day 1: ingested {n1} docs; index sizes: "
          f"{digest_index.count()} digests, {band_index.count()} band keys")

    # ---- day 2: reposts (same text, new ids), near-reposts (one word
    # swapped), and genuinely fresh odd-id docs ----------------------
    # deterministic disjoint carve-outs by doc_id predicate (an
    # unordered limit/subtract can pick different rows per evaluation)
    reposts = day1.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near = day1.filter(F.col("doc_id") % 10 == 2).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("prefix_token "), F.col("text")).alias("text"),
    )
    fresh = docs.filter(F.col("doc_id") % 2 == 1)
    day2 = reposts.unionByName(near).unionByName(fresh)

    kept2 = dedup_incremental(day2, digest_index)  # kills exact reposts
    kept2 = dedup_incremental_fuzzy(               # kills near-reposts
        kept2.withColumn("words", F.split("text", " ")), band_index
    )
    n2_in, n2_out = day2.count(), kept2.count()
    n_reposts_left = kept2.filter(F.col("doc_id") >= 1_000_000).count()
    print(f"day 2: {n2_in} arrived, {n2_out} survived "
          f"({n2_in - n2_out} dropped; {n_reposts_left} re-/near-posts "
          "slipped through the band S-curve)")

    # ---- running heavy hitters (r12): per-day Count-Min fits merge
    # into a stream-lifetime sketch, so day 2 can flag sources hot
    # against EVERYTHING ingested so far without rescanning day 1 —
    # the freqItems probe cannot merge across days (core/skew.py
    # hot_keys_cms; verdicts are a guaranteed superset of the
    # truly-hot keys)
    from smashed_spark.core.skew import hot_keys_cms
    from smashed_spark.functions.cms import fit_cms

    src1 = kept1.withColumn("src", F.col("doc_id") % 5)
    src2 = kept2.withColumn("src", F.col("doc_id") % 5)
    running = fit_cms(src1, "src").merge(fit_cms(src2, "src"))
    hot = hot_keys_cms(
        src2, "src", support=0.15, sketch=running, exact=False
    )
    print(f"stream-lifetime hot sources (support 15%): {hot} — "
          "feed these into salted_join(hot=) for the next stage")
    spark.stop()


if __name__ == "__main__":
    main()
