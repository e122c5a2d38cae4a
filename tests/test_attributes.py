"""Attribute sidecars (sources/attributes.py): slim keyed signal
storage + re-join without recompute."""

import pytest
from pyspark.sql import functions as F

from smashed_spark.core import sizing
from smashed_spark.sources.attributes import (
    join_attributes,
    read_attributes,
    write_attributes,
)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _docs(spark):
    rows = [
        (1, "hello world", "en", 0.9),
        (2, "bonjour", "fr", 0.5),
        (3, "hola", "es", 0.7),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, score double"
    )


def test_roundtrip_and_rejoin(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "attrs")
    written = write_attributes(docs, path, attribute_fields=["lang", "score"])
    assert written == ["lang", "score"]
    side = read_attributes(spark, path)
    assert sorted(side.columns) == ["doc_id", "lang", "score"]

    corpus = docs.select("doc_id", "text")
    joined = join_attributes(corpus, path)
    got = {
        r["doc_id"]: (r["lang"], r["score"]) for r in joined.collect()
    }
    assert got == {1: ("en", 0.9), 2: ("fr", 0.5), 3: ("es", 0.7)}
    # pruned read: only the requested attribute joins
    j2 = join_attributes(corpus, path, fields=["score"])
    assert sorted(j2.columns) == ["doc_id", "score", "text"]


def test_default_projection_excludes_payload(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "attrs")
    written = write_attributes(docs, path)  # no explicit fields
    assert "text" not in written and set(written) == {"lang", "score"}
    with pytest.raises(ValueError, match="payload"):
        write_attributes(
            docs, str(tmp_path / "a2"), attribute_fields=["text"]
        )
    # explicit override works
    write_attributes(
        docs, str(tmp_path / "a3"), attribute_fields=["text"],
        allow_wide=True,
    )


def test_left_join_keeps_unattributed_rows(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "attrs")
    write_attributes(
        docs.filter("doc_id < 3"), path, attribute_fields=["score"]
    )
    corpus = docs.select("doc_id", "text")
    left = join_attributes(corpus, path)
    assert left.count() == 3
    assert left.filter("score IS NULL").count() == 1
    inner = join_attributes(corpus, path, how="inner")
    assert inner.count() == 2


def test_duplicate_sidecar_key_raises_in_plan(spark, tmp_path):
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    docs = _docs(spark)
    dup = spark.createDataFrame(
        [(1, 0.1), (1, 0.2), (2, 0.3)], "doc_id long, score double"
    )
    out = join_attributes(docs.select("doc_id", "text"), dup)
    with pytest.raises(
        (PySparkRuntimeError, SparkRuntimeException),
        match="not unique",
    ):
        out.collect()


def test_small_sidecar_broadcasts(spark, tmp_path, monkeypatch):
    docs = _docs(spark)
    path = str(tmp_path / "attrs")
    write_attributes(docs, path, attribute_fields=["score"])
    joined = join_attributes(docs.select("doc_id", "text"), path)
    tree = _explain(joined).split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    # over-cap sidecar: we must not FORCE a broadcast (Catalyst may
    # still auto-broadcast a genuinely small side — disable that to
    # observe the routing)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with monkeypatch.context() as m:
            m.setattr(sizing, "BROADCAST_KEYS", 1)
            big = join_attributes(docs.select("doc_id", "text"), path)
        tree2 = _explain(big).split("\n\n")[0]
        assert "BroadcastHashJoin" not in tree2, tree2
        small2 = join_attributes(docs.select("doc_id", "text"), path)
        assert "BroadcastHashJoin" in _explain(small2).split("\n\n")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_validation(spark, tmp_path):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="key_field"):
        write_attributes(docs, str(tmp_path / "x"), key_field="nope")
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_attributes(
            docs, str(tmp_path / "x"), attribute_fields=["nope"]
        )
    path = str(tmp_path / "attrs")
    write_attributes(docs, path, attribute_fields=["lang", "score"])
    with pytest.raises(ValueError, match="already exist"):
        join_attributes(docs, path)  # docs still has lang/score
    with pytest.raises(ValueError, match="fields not in"):
        join_attributes(docs.select("doc_id", "text"), path, fields=["z"])
    with pytest.raises(ValueError, match="how"):
        join_attributes(docs.select("doc_id"), path, how="outer")
