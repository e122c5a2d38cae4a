"""Per-action census of ANY gate query, e.g. streaming_ingest_fuzzy.

Monkeypatches the job-producing DataFrame entry points (count /
collect / localCheckpoint / write.parquet / DataFrameWriter.save /
toPandas) with wall timers that attribute each call to the
smashed_spark source line that issued it, then runs the EXACT gate
callable from the registry followed by the bench's noop-sink write.
Nothing in the product code changes; the census sees the same plan the
bench times.

Usage: python tools/query_census.py <query> [more queries ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SMASHED_CENSUS_REPS (default 2;
the SECOND run's numbers are the steady-state ones — the first pays
session warmup).
"""

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("SMASHED_CENSUS_REPS", "2"))

RECORDS = []  # (seq, op, file:line of caller, sec)


def _attr():
    stack = traceback.extract_stack()
    for fr in reversed(stack):
        fn = fr.filename
        if "/smashed_spark/" in fn:
            short = fn.split("/smashed_spark/")[-1]
            return f"{short}:{fr.lineno}"
    return "(driver)"


def _timed(name, orig):
    def wrap(self, *a, **k):
        t0 = time.time()
        out = orig(self, *a, **k)
        RECORDS.append((len(RECORDS), name, _attr(), time.time() - t0))
        return out

    return wrap


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    DataFrame.count = _timed("count", DataFrame.count)
    DataFrame.collect = _timed("collect", DataFrame.collect)
    DataFrame.toPandas = _timed("toPandas", DataFrame.toPandas)
    DataFrame.localCheckpoint = _timed(
        "localCheckpoint", DataFrame.localCheckpoint
    )
    DataFrameWriter.parquet = _timed("write.parquet", DataFrameWriter.parquet)
    DataFrameWriter.save = _timed("write.save", DataFrameWriter.save)

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("smashed_spark-census")
        .config("spark.sql.shuffle.partitions", str(max(int(CPUS) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    # bench.py's warmups so rep timings aren't charged for infra
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    def _warm_pandas(batches):
        yield from batches

    spark.range(1000).mapInPandas(_warm_pandas, "id long").count()

    queries = entry_mod.queries()
    for name in sys.argv[1:]:
        fn = queries[name]
        for rep in range(REPS):
            RECORDS.clear()
            spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t_build = time.time() - t0
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t_noop = time.time() - t1
            total = time.time() - t0
            print(f"\n== {name} rep {rep}: total {total:.3f}s "
                  f"(build {t_build:.3f}s, final noop {t_noop:.3f}s)")
            body = [r for r in RECORDS if not (
                r[1] == "write.save" and r[2] == "(driver)")]
            acc = sum(r[3] for r in body)
            print(f"   body actions: {len(body)}, {acc:.3f}s accounted")
            for seq, op, where, sec in RECORDS:
                if sec >= 0.02:
                    print(f"   [{seq:3d}] {op:18s} {where:46s} {sec:7.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
