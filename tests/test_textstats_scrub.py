"""PII redaction + decontamination unit tests."""

import pytest
from pyspark.sql import functions as F

from smashed_spark.functions.textstats import (
    DecontaminateMapper,
    PiiRedactMapper,
)


def test_pii_redact_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org now"),
            (2, "call +1-555-867-5309 or 310 555 0199 x"),
            (3, "host 192.168.0.1 and 8.8.8.8"),
            (4, "clean text only"),
            (5, None),
        ],
        "id: bigint, text: string",
    )
    out = {r.id: r for r in PiiRedactMapper("text").map(df).collect()}
    assert out[1].text == "mail <EMAIL> now"
    assert out[1].n_pii_email == 1
    assert out[2].text == "call <PHONE> or <PHONE> x"
    assert out[2].n_pii_phone == 2
    assert out[3].text == "host <IP> and <IP>"
    assert out[3].n_pii_ipv4 == 2
    assert out[4].text == "clean text only"
    assert (
        out[4].n_pii_email == out[4].n_pii_phone == out[4].n_pii_ipv4 == 0
    )
    assert out[5].text is None


def test_pii_redact_ip_before_phone(spark):
    # A dotted IP whose third octet has 3 digits ('192.168.100.7') is
    # half-matched by the phone pattern ('192.168.100'); the ipv4
    # replacement must run first or the output contains '<PHONE>.7'
    # residue.  Counts are taken on the text as it exists when each
    # pattern is applied, so they equal the replacements made.
    df = spark.createDataFrame(
        [
            (1, "host 192.168.100.7 up"),
            (2, "+1-555-0134 at 10.0.200.7"),
        ],
        "id: bigint, text: string",
    )
    out = {r.id: r for r in PiiRedactMapper("text").map(df).collect()}
    assert out[1].text == "host <IP> up"
    assert out[1].n_pii_ipv4 == 1 and out[1].n_pii_phone == 0
    assert out[2].text == "<PHONE> at <IP>"
    assert out[2].n_pii_phone == 1 and out[2].n_pii_ipv4 == 1


def test_pii_redact_separate_output_field(spark):
    df = spark.createDataFrame([(1, "x@y.io")], "id: bigint, text: string")
    r = PiiRedactMapper("text", output_field="clean").map(df).first()
    assert r.text == "x@y.io" and r.clean == "<EMAIL>"


def _docs(spark):
    rows = [
        (1, "a b c d e f g h i j"),      # contains bench 8-gram run
        (2, "a b c d e f g h zz qq"),    # shares 'a b c d e f g h'
        (3, "totally different words here with no overlap at all"),
        (4, "short"),                     # too short for any 8-gram
    ]
    return spark.createDataFrame(
        rows, "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))


def test_decontaminate_flag_counts(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 1)
    out = {
        r.doc_id: r
        for r in DecontaminateMapper(bench, shingle_size=8)
        .map(docs)
        .collect()
    }
    assert out[1].contaminated and out[1].n_overlap == 3  # its own 3 8-grams
    assert out[2].contaminated and out[2].n_overlap == 1
    assert not out[3].contaminated and out[3].n_overlap == 0
    assert not out[4].contaminated and out[4].n_overlap == 0


def test_decontaminate_drop_is_anti_join(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 1)
    m = DecontaminateMapper(bench, shingle_size=8, mode="drop")
    kept = sorted(r.doc_id for r in m.map(docs).collect())
    assert kept == [3, 4]
    # plan shape: benchmark broadcast + anti join, no aggregation
    plan = m.map(docs)._sc._jvm.PythonSQLUtils.explainString(
        m.map(docs)._jdf.queryExecution(), "formatted"
    )
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_decontaminate_join_strategy_matches_broadcast(spark, sf_dir):
    """The shuffled-join path (huge-benchmark tier) must agree with the
    broadcast path row-for-row, and the size router must pick it when
    the benchmark's plan-time size exceeds the broadcast cap."""
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 1)
    rows = lambda m: sorted(  # noqa: E731
        (r.doc_id, r.contaminated, r.n_overlap)
        for r in m.map(docs).collect()
    )
    joined = DecontaminateMapper(bench, shingle_size=8)
    joined.BROADCAST_LIMIT_BYTES = joined.BROADCAST_LIMIT_ROWS = 0
    assert joined._resolve_strategy() == "join"
    assert rows(joined) == rows(DecontaminateMapper(bench, shingle_size=8))

    big = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.split("text", " ").alias("words"))
    )
    auto = DecontaminateMapper(big, shingle_size=8)
    auto.BROADCAST_LIMIT_BYTES = 0  # file-backed: estimate is known
    assert auto._resolve_strategy() == "join"
    assert DecontaminateMapper(bench)._resolve_strategy() == "broadcast"


def test_decontaminate_min_overlap_threshold(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 1)
    out = DecontaminateMapper(
        bench, shingle_size=8, min_overlap=2, mode="drop"
    ).map(docs)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [2, 3, 4]  # only doc 1 (3 overlaps) >= 2


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>"
    )


def test_semantic_decontaminate_flags_match_numpy(spark):
    """Flag mode: max cosine vs the benchmark matches a numpy replay
    (round 6dp), input columns pass through, flags split correctly."""
    import numpy as np

    from smashed_spark.functions.textstats import (
        SemanticDecontaminateMapper,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    corpus = _emb(spark, rows).withColumn("tag", F.lit("t"))
    bench = _emb(spark, rows[:5])
    out = {
        r.vec_id: (r.max_benchmark_sim, r.semantic_contaminated, r.tag)
        for r in SemanticDecontaminateMapper(bench, threshold=0.5)
        .map(corpus)
        .collect()
    }
    b = vecs[:5]
    bn = np.sqrt((b * b).sum(axis=1))
    for i in range(40):
        q = vecs[i]
        sims = (q @ b.T) / (np.sqrt(q @ q) * bn)
        want = round(float(sims.max()), 6)
        got_sim, got_flag, tag = out[i]
        assert abs(got_sim - want) < 1e-9, i
        assert got_flag == int(want >= 0.5)
        assert tag == "t"
    # benchmark members match themselves at 1.0
    assert all(out[i][1] == 1 for i in range(5))
    flags = {out[i][1] for i in range(40)}
    assert flags == {0, 1}


def test_semantic_decontaminate_drop_and_partitioning(spark):
    import numpy as np

    from smashed_spark.functions.textstats import (
        SemanticDecontaminateMapper,
    )

    rng = np.random.default_rng(4)
    vecs = rng.normal(size=(30, 6))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    corpus = _emb(spark, rows)
    bench = _emb(spark, rows[:3])
    m = SemanticDecontaminateMapper(bench, threshold=0.6, mode="drop")
    kept1 = sorted(r.vec_id for r in m.map(corpus).collect())
    kept2 = sorted(
        r.vec_id for r in m.map(corpus.repartition(7)).collect()
    )
    assert kept1 == kept2
    assert 0 not in kept1  # self-match dropped
    out_cols = m.map(corpus).columns
    assert out_cols == ["vec_id", "embedding"]  # drop emits no flags


def test_semantic_decontaminate_zero_norm_vectors(spark):
    """r7 wrong #3: a zero embedding must score max_benchmark_sim 0.0
    and pass decontamination EXPLICITLY (cosine to everything is 0),
    not slip through with NaN; a zero-norm BENCHMARK row likewise
    contaminates nothing."""
    from smashed_spark.functions.textstats import (
        SemanticDecontaminateMapper,
    )

    corpus = _emb(
        spark,
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
    )
    bench = _emb(spark, [(10, [1.0, 0.0])])
    out = {
        r.vec_id: (r.max_benchmark_sim, r.semantic_contaminated)
        for r in SemanticDecontaminateMapper(bench, threshold=0.5)
        .map(corpus)
        .collect()
    }
    assert out[0] == (0.0, 0)  # zero corpus vector: defined 0.0, not NaN
    assert out[1] == (1.0, 1)
    assert out[2] == (0.0, 0)
    bench_zero = _emb(spark, [(10, [0.0, 0.0])])
    out2 = {
        r.vec_id: (r.max_benchmark_sim, r.semantic_contaminated)
        for r in SemanticDecontaminateMapper(bench_zero, threshold=0.5)
        .map(corpus)
        .collect()
    }
    assert all(v == (0.0, 0) for v in out2.values()), out2


def test_semantic_decontaminate_empty_benchmark(spark):
    from smashed_spark.functions.textstats import (
        SemanticDecontaminateMapper,
    )

    corpus = _emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    bench = _emb(spark, [])
    out = SemanticDecontaminateMapper(bench, threshold=0.1).map(corpus)
    got = {(r.vec_id, r.max_benchmark_sim, r.semantic_contaminated)
           for r in out.collect()}
    assert got == {(1, -1.0, 0), (2, -1.0, 0)}


def test_semantic_decontaminate_benchmark_cap(spark):
    from smashed_spark.functions.textstats import (
        SemanticDecontaminateMapper,
    )

    corpus = _emb(spark, [(1, [1.0, 0.0])])
    bench = _emb(spark, [(i, [1.0, 0.0]) for i in range(20)])
    over = SemanticDecontaminateMapper(bench)
    over.MAX_BENCHMARK_ROWS = 10
    with pytest.raises(ValueError, match="MAX_BENCHMARK_ROWS=10"):
        over.map(corpus)
    # exactly-at-cap passes
    at_cap = SemanticDecontaminateMapper(bench)
    at_cap.MAX_BENCHMARK_ROWS = 20
    at_cap.map(corpus)
    with pytest.raises(ValueError, match="unknown mode"):
        SemanticDecontaminateMapper(bench, mode="quarantine")
