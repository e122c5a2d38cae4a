"""sources/evolve.py — schema evolution across corpus snapshots."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smashed_spark.sources.evolve import (
    align_to_schema,
    drift_summary,
    is_safe_cast,
    read_evolved,
    schema_drift,
)

TARGET = "doc_id bigint, text string, score double, lang string"


def _write_snapshots(spark, tmp_path):
    """v1: int ids, no score, no lang.  v2: long ids + float score.
    v3: full target shape."""
    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    v3 = str(tmp_path / "v3")
    spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id int, text string"
    ).coalesce(1).write.parquet(v1)
    spark.createDataFrame(
        [(3, "three", 0.5)], "doc_id bigint, text string, score float"
    ).coalesce(1).write.parquet(v2)
    spark.createDataFrame(
        [(4, "four", 0.25, "en")], TARGET
    ).coalesce(1).write.parquet(v3)
    return v1, v2, v3


def test_is_safe_cast_matrix(spark):
    ok = [
        ("int", "bigint"), ("smallint", "int"), ("float", "double"),
        ("tinyint", "double"), ("bigint", "decimal(38,0)"),
        ("date", "timestamp"), ("bigint", "string"), ("int", "int"),
        ("boolean", "string"),
    ]
    bad = [
        ("bigint", "int"), ("double", "float"), ("bigint", "double"),
        ("int", "float"), ("string", "bigint"), ("timestamp", "date"),
        ("string", "double"), ("double", "decimal(38,0)"),
    ]
    for s, d in ok:
        assert is_safe_cast(
            T._parse_datatype_string(s), T._parse_datatype_string(d)
        ), (s, d)
    for s, d in bad:
        assert not is_safe_cast(
            T._parse_datatype_string(s), T._parse_datatype_string(d)
        ), (s, d)


def test_align_missing_and_extra_policies(spark):
    df = spark.createDataFrame(
        [(1, "a", "junk")], "doc_id bigint, text string, debris string"
    )
    out = align_to_schema(df, TARGET)
    assert out.columns == ["doc_id", "text", "score", "lang"]
    row = out.first()
    assert row["score"] is None and row["lang"] is None
    assert dict(out.dtypes)["score"] == "double"

    kept = align_to_schema(df, TARGET, extra="keep")
    assert kept.columns == ["doc_id", "text", "score", "lang", "debris"]
    with pytest.raises(ValueError, match="unexpected columns"):
        align_to_schema(df, TARGET, extra="error")
    with pytest.raises(ValueError, match="missing from input"):
        align_to_schema(df, TARGET, missing="error")


def test_align_cast_policies(spark):
    df = spark.createDataFrame(
        [(2**40, "a", 1.5, "en")],
        "doc_id bigint, text string, score double, lang string",
    )
    # long -> int is lossy: safe mode raises, force mode truncates
    narrow = "doc_id int, text string, score double, lang string"
    with pytest.raises(ValueError, match="LOSSY"):
        align_to_schema(df, narrow)
    forced = align_to_schema(df, narrow, cast="force")
    assert dict(forced.dtypes)["doc_id"] == "int"
    with pytest.raises(ValueError, match="cast='error'"):
        align_to_schema(df, narrow, cast="error")
    # safe widening passes silently
    wide = align_to_schema(
        spark.createDataFrame([(1, "a", 0.5, "en")],
                              "doc_id int, text string, score float, "
                              "lang string"),
        TARGET,
    )
    assert dict(wide.dtypes) == {
        "doc_id": "bigint", "text": "string", "score": "double",
        "lang": "string",
    }
    assert wide.first()["score"] == 0.5


def test_read_evolved_across_snapshots(spark, tmp_path):
    v1, v2, v3 = _write_snapshots(spark, tmp_path)
    out = read_evolved(spark, [v1, v2, v3], TARGET)
    assert out.columns == ["doc_id", "text", "score", "lang"]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["score"] is None and rows[1]["lang"] is None
    assert rows[3]["score"] == 0.5 and rows[3]["lang"] is None
    assert rows[4]["lang"] == "en"
    # pushdown survives the merged scan: target projection prunes
    plan = out.select("doc_id")._jdf.queryExecution().executedPlan(
    ).toString()
    assert "text" not in plan.split("ReadSchema")[-1][:200]


def test_schema_drift_and_summary(spark, tmp_path):
    v1, v2, v3 = _write_snapshots(spark, tmp_path)
    drift = schema_drift(spark, [v1, v2, v3])
    got = {
        (r["col"], r["logical_type"])
        for r in drift.collect()
    }
    assert ("doc_id", "int32") in got and ("doc_id", "int64") in got
    assert ("score", "float") in got and ("score", "double") in got

    summary = drift_summary(drift).collect()
    by_col = {}
    for r in summary:
        by_col.setdefault(r["col"], []).append(r)
    # doc_id appears at two types, neither covering all files
    assert len(by_col["doc_id"]) == 2
    assert all(not r["in_all_files"] for r in by_col["doc_id"])
    # text is uniform across all three files
    assert len(by_col["text"]) == 1 and by_col["text"][0]["in_all_files"]
    assert by_col["text"][0]["total_files"] == 3
    # lang exists in one file only
    assert by_col["lang"][0]["n_files"] == 1


def test_align_case_insensitive_resolution(spark):
    """Spark's default resolver is case-insensitive; a case-drifted
    snapshot column must align to the target, not be silently NULLed
    as missing while its differently-cased twin drops as extra."""
    df = spark.createDataFrame(
        [(7, "x")], "DOC_ID bigint, Text string"
    )
    out = align_to_schema(df, "doc_id bigint, text string")
    assert out.columns == ["doc_id", "text"]
    row = out.first()
    assert row["doc_id"] == 7 and row["text"] == "x"
    # and the case-matched column is not ALSO treated as an extra
    with pytest.raises(ValueError, match="missing"):
        align_to_schema(df, "other bigint", missing="error")


def test_read_evolved_empty_paths_raises(spark):
    with pytest.raises(ValueError, match="empty paths"):
        read_evolved(spark, [], "doc_id bigint")


def test_align_is_pure_projection(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id int, text string")
    plan = (
        align_to_schema(df, TARGET)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_ingest_state_survives_schema_drift(spark, tmp_path):
    """r12 (VERDICT ask #8): the evolve x ingest composition — the
    realistic 100 TB story where batch schemas DRIFT mid-ingest
    (generation 2 widens doc_id int->bigint and adds a column).  The
    dedup state must keep working across the widening (the digest /
    band projections are schema-stable by construction), reposts of
    generation-1 text must still be dropped by generation-2 batches,
    compaction must survive, and read_evolved must reassemble the
    per-generation survivor snapshots onto the widened target."""
    from smashed_spark.streaming.ingest import (
        compact_ingest_state,
        ingest_dedup_batch,
    )

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    gen1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id int, text string",
    )
    ingest_dedup_batch(gen1, state, out, batch_id=0, fuzzy=False)
    # generation 2: widened key (a value above int32 range proves the
    # widening is real) + a new column + a byte-identical repost of a
    # generation-1 document
    gen2 = spark.createDataFrame(
        [
            (3_000_000_000, "eta theta iota", 14),
            (4, "alpha beta gamma", 16),  # repost — must be dropped
        ],
        "doc_id bigint, text string, n_chars bigint",
    )
    ingest_dedup_batch(gen2, state, out, batch_id=1, fuzzy=False)
    # compaction folds the drift-straddling index without complaint
    # (digest state is a schema-stable projection)
    compact_ingest_state(spark, state, fuzzy=False)
    gen3 = spark.createDataFrame(
        [(5, "eta theta iota", 14)],  # repost of a gen-2 survivor
        "doc_id bigint, text string, n_chars bigint",
    )
    ingest_dedup_batch(gen3, state, out, batch_id=2, fuzzy=False)

    evolved = read_evolved(
        spark,
        [f"{out}/batch=0", f"{out}/batch=1", f"{out}/batch=2"],
        "doc_id bigint, text string, n_chars bigint",
    )
    rows = {r["doc_id"]: r for r in evolved.collect()}
    # survivors: both gen-1 docs (n_chars -> typed NULL), the one
    # genuinely-new gen-2 doc; both reposts dropped across the drift
    assert set(rows) == {1, 2, 3_000_000_000}
    assert rows[1]["n_chars"] is None and rows[2]["n_chars"] is None
    assert rows[3_000_000_000]["n_chars"] == 14
    assert dict(evolved.dtypes)["doc_id"] == "bigint"
