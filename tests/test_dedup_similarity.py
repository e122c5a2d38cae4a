"""Dedup / similarity / textstats operators (beyond-reference block)."""

import pytest
from pyspark.sql import functions as F

from smashed_spark.functions.dedup import (
    EmbeddingNearDupPairsMapper,
    ExactDedupMapper,
    MinHashLSHPairsMapper,
    MinHashMapper,
    NGramJaccardPairsMapper,
    SimHashMapper,
)
from smashed_spark.functions.similarity import CosineTopK, HyperplaneLSHTopK
from smashed_spark.functions.textstats import (
    FingerprintMapper,
    LangIdMapper,
    QualityScoreMapper,
    TokenCountMapper,
)


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(0, "aaa"), (1, "bbb"), (2, "aaa"), (3, "aaa")],
        "doc_id: bigint, text: string",
    )
    out = ExactDedupMapper().map(df).orderBy("doc_id").collect()
    assert [(r.doc_id, r.dup_count) for r in out] == [(0, 3), (1, 1)]


def test_minhash_identical_and_disjoint(spark):
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different words entirely unrelated content here now"
    df = spark.createDataFrame(
        [(0, t1), (1, t1), (2, t2)], "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    out = MinHashMapper(num_hashes=8).map(df).orderBy("doc_id").collect()
    assert out[0].minhash == out[1].minhash  # identical docs
    assert out[0].minhash != out[2].minhash  # disjoint docs
    assert len(out[0].minhash) == 8


def test_minhash_lsh_pairs(spark):
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different words entirely unrelated content here now"
    df = spark.createDataFrame(
        [(0, t1), (1, t1), (2, t2)], "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    pipe = MinHashMapper(num_hashes=16) >> MinHashLSHPairsMapper(
        "doc_id", bands=4, rows_per_band=4
    )
    pairs = {(r.id_a, r.id_b) for r in pipe.map(df).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_similar_docs_close(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [(0, base), (1, base + "extra"), (2, "zz yy xx ww vv uu tt ss")],
        "doc_id: bigint, text: string",
    ).withColumn("words", F.split("text", " "))
    out = SimHashMapper(bits=16).map(df).orderBy("doc_id").collect()

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[0].simhash, out[1].simhash) < hamming(
        out[0].simhash, out[2].simhash
    )


def test_ngram_jaccard_pairs(spark):
    t1 = "a b c d e f g h"
    t2 = "a b c d e f g x"  # shares 5 of the 6+6 3-grams
    t3 = "p q r s t u v w"
    df = spark.createDataFrame(
        [(0, t1), (1, t2), (2, t3)], "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    out = NGramJaccardPairsMapper("doc_id", threshold=0.5).map(df).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] == pytest.approx(5 / 7, abs=1e-6)


def test_cosine_topk(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    out = (
        CosineTopK(k=2, queries_filter="vec_id = 0")
        .map(df)
        .orderBy("rank")
        .collect()
    )
    assert [r.neighbor_id for r in out] == [1, 2]
    assert out[0].sim > 0.99


def _over_cap(mapper):
    """``mapper`` with both broadcast caps at -1, so the size router
    sends any corpus, an empty one too, past its broadcast tier."""
    mapper.BROADCAST_LIMIT_BYTES = -1
    mapper.BROADCAST_LIMIT_ROWS = -1
    return mapper


def test_cosine_topk_zero_norm_vectors(spark):
    """Defined zero-norm semantics — an all-zero vector has cosine 0.0
    to everything (never NaN, never a DIVIDE_BY_ZERO error under ANSI
    mode) on every tier of CosineTopK and EmbeddingNearDupPairsMapper
    and in cosine_similarity.  Each tier is reached through the size
    router by setting the class caps to 0."""
    from smashed_spark.functions.hashing import cosine_similarity

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),  # zero-norm corpus vector
            (3, [0.5, 0.5]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    tiers = {
        "broadcast": lambda **kw: CosineTopK(k=3, **kw),
        "exact_join": lambda **kw: _over_cap(
            CosineTopK(k=3, force_exact=True, **kw)
        ),
    }
    for tier, make in tiers.items():
        # zero-norm neighbors rank last, not first (Spark sorts NaN
        # above every double)
        out = (
            make(queries_filter="vec_id = 0")
            .map(df)
            .orderBy("rank")
            .collect()
        )
        assert [r.neighbor_id for r in out] == [1, 3, 2], tier
        sims = [r.sim for r in out]
        assert all(s == s for s in sims), (tier, sims)  # no NaN
        assert sims[-1] == 0.0, tier
        # zero-norm QUERY: every sim is exactly 0.0
        qz = make(queries_filter="vec_id = 2").map(df).collect()
        assert [r.sim for r in qz] == [0.0, 0.0, 0.0], tier

    # near-dup pairs at threshold <= 0: every tier returns the same
    # pairs, the ones with the all-zero vector at 0.0 (not dropped as
    # NaN by the threshold filter)
    near = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.1])],
        "vec_id: bigint, embedding: array<double>",
    )
    cos23 = round(1 / 1.01 ** 0.5, 6)
    want = {(1, 2): 0.0, (1, 3): 0.0, (2, 3): cos23}
    # 1 bit x 4 tables: the md5 hyperplanes put all three vectors in
    # one bucket of table 0, so the LSH tier sees every pair
    kw = dict(threshold=-1.0, dims=2, num_bits=1, num_tables=4)
    lsh = _over_cap(EmbeddingNearDupPairsMapper(**kw))
    with pytest.warns(UserWarning, match="approximate LSH"):
        lsh_out = lsh.map(near)
    for tier, out in (
        ("broadcast", EmbeddingNearDupPairsMapper(**kw).map(near)),
        (
            "pairwise",
            _over_cap(EmbeddingNearDupPairsMapper(exact=True, **kw)).map(near),
        ),
        ("lsh", lsh_out),
    ):
        got = {(r.id_a, r.id_b): r.sim for r in out.collect()}
        assert got == want, (tier, got)
    zero = EmbeddingNearDupPairsMapper(threshold=0.0, dims=2).map(near)
    assert {(r.id_a, r.id_b) for r in zero.collect()} == set(want)

    sims = near.alias("a").join(near.alias("b"), F.col("a.vec_id") == 1)
    got = {
        r.id: r.sim
        for r in sims.select(
            F.col("b.vec_id").alias("id"),
            cosine_similarity("a.embedding", "b.embedding").alias("sim"),
        ).collect()
    }
    assert got == {1: 0.0, 2: 0.0, 3: 0.0}
    pair = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.1])], "a: array<double>, b: array<double>"
    )
    sim = pair.select(F.round(cosine_similarity("a", "b"), 6)).first()[0]
    assert sim == cos23


def test_cosine_operators_empty_corpus(spark):
    """An empty corpus gives an empty result, not a numpy AxisError in
    the broadcast tier's driver-side norm computation, nor an
    IndexError in the LSH tiers' one-row dims probe (no ``dims=``)."""
    empty = spark.createDataFrame([], "vec_id: bigint, embedding: array<double>")
    assert CosineTopK(k=2).map(empty).collect() == []
    assert EmbeddingNearDupPairsMapper(dims=2).map(empty).collect() == []
    lsh_topk = HyperplaneLSHTopK(k=2).map(empty)
    assert lsh_topk.columns == ["query_id", "neighbor_id", "sim", "rank"]
    assert lsh_topk.collect() == []
    with pytest.warns(UserWarning, match="approximate LSH"):
        lsh_pairs = _over_cap(EmbeddingNearDupPairsMapper()).map(empty)
    assert lsh_pairs.columns == ["id_a", "id_b", "sim"]
    assert lsh_pairs.collect() == []


def test_embedding_near_dup(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.14]), (2, [0.0, 1.0])],
        "vec_id: bigint, embedding: array<float>",
    )
    out = EmbeddingNearDupPairsMapper(threshold=0.9).map(df).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(0, 1)}


def test_near_dup_lsh_path_above_limit(spark, sf_dir):
    """Above BROADCAST_LIMIT the near-dup mapper must use the bucketed
    LSH join — no cartesian/nested-loop node in the plan — and its
    exact rerank admits no false positives vs the exact pair set."""
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact_set = {
        (r.id_a, r.id_b)
        for r in EmbeddingNearDupPairsMapper(threshold=0.35).map(df).collect()
    }
    # 3 bits / 16 tables: P(some table agrees on all 3 signs) is high
    # even at the ~0.35 cosine this corpus' near-dups sit at — measured
    # recall 0.992 here (deterministic: md5 hyperplanes, fixed data)
    m = EmbeddingNearDupPairsMapper(
        threshold=0.35, num_bits=3, num_tables=16, dims=64
    )
    m.BROADCAST_LIMIT_BYTES = 0  # force the large-corpus path
    with pytest.warns(UserWarning, match="approximate LSH"):
        out = m.map(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    approx_set = {(r.id_a, r.id_b) for r in out.collect()}
    assert approx_set <= exact_set  # exact rerank: no false positives
    assert exact_set, "fixture should contain near-dup pairs"
    recall = len(approx_set & exact_set) / len(exact_set)
    assert recall >= 0.9, f"LSH near-dup recall too low: {recall}"


def test_cosine_topk_guards_unbroadcastable_corpus(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    guarded = CosineTopK(k=2, queries_filter="vec_id = 0")
    guarded.BROADCAST_LIMIT_ROWS = 0  # local frame: rows fallback path
    with pytest.raises(ValueError, match="force_exact"):
        guarded.map(df)
    forced = CosineTopK(k=2, queries_filter="vec_id = 0", force_exact=True)
    forced.BROADCAST_LIMIT_ROWS = 0
    out = forced.map(df).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [1, 2]


def test_ngram_jaccard_shingle_freq_cap(spark):
    """A shingle shared by k docs contributes k^2/2 join rows; the
    frequency cap drops hub shingles before the fan-out."""
    rows = [(i, f"x y z a{i} b{i} c{i} d{i}") for i in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    default = NGramJaccardPairsMapper("doc_id", threshold=0.01)
    assert default.max_shingle_freq == 1024  # finite, safe by default
    # the single hub shingle 'x y z' fans out to all C(10,2) pairs
    assert default.map(df).count() == 45
    capped = NGramJaccardPairsMapper(
        "doc_id", threshold=0.01, max_shingle_freq=5
    ).map(df)
    assert capped.count() == 0  # hub dropped -> no candidates at all
    # uncapped is fine: both plans stream (no per-group memory
    # requirement)
    uncapped = NGramJaccardPairsMapper(
        "doc_id", threshold=0.01, max_shingle_freq=None
    )
    assert uncapped.map(df).count() == 45
    assert uncapped.resolved_method in ("join", "prefix")


def test_lsh_topk_recall(spark, sf_dir):
    """Uniform-random embeddings are LSH's worst case (true top-k sims
    sit near the bulk of the distribution), so high recall needs short
    signatures and many tables: 3 bits x 16 tables measures 1.0 here
    vs 0.57 for the old 4x8 (deterministic — md5 hyperplanes, fixed
    fixture — so the floor is a regression pin, not a flake)."""
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = CosineTopK(k=3, queries_filter="vec_id < 10").map(df).collect()
    approx = HyperplaneLSHTopK(
        k=3, num_bits=3, num_tables=16, queries_filter="vec_id < 10"
    ).map(df).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_langid(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is of note"),
            (1, "el gato y la casa de que"),
            (2, "xyzzy plugh"),
        ],
        "doc_id: bigint, text: string",
    )
    out = LangIdMapper().map(df).orderBy("doc_id").collect()
    assert [r.lang_pred for r in out] == ["en", "es", "und"]


def test_quality_score(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox is running over the hill")],
        "doc_id: bigint, text: string",
    )
    out = QualityScoreMapper().map(df).collect()[0]
    assert out.q_n_words == 9
    assert 0.0 <= out.q_score <= 1.0
    assert out.q_non_alpha_ratio == 0.0


def test_token_count(spark):
    df = spark.createDataFrame(
        [(0, "hello worldly, test!")], "doc_id: bigint, text: string"
    )
    out = TokenCountMapper().map(df).collect()[0]
    assert out.n_ws_tokens == 3
    # hell+o wor+ldly+, test+! -> chunks of <=4 + punct
    assert out.n_bpe_tokens == 7


def test_fingerprint(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "bye")],
        "doc_id: bigint, text: string",
    )
    out = FingerprintMapper().map(df).orderBy("doc_id").collect()
    assert out[0].fingerprint == out[1].fingerprint  # normalization
    assert out[0].fingerprint != out[2].fingerprint
    assert out[0].min_kgram_hash == out[1].min_kgram_hash


def test_repetition_stats(spark):
    from smashed_spark.functions.textstats import RepetitionStatsMapper

    df = spark.createDataFrame(
        [
            # words: a b a b a -> 5 words, 2 distinct -> dup 0.6
            # 2grams: "a b","b a","a b","b a" -> all 4 occurrences dup,
            # top count 2
            (0, "a b a b a"),
            # all unique words/grams
            (1, "x y z"),
            # single word: no 2grams
            (2, "solo"),
        ],
        "doc_id: bigint, text: string",
    )
    out = {
        r.doc_id: r
        for r in RepetitionStatsMapper().map(df).collect()
    }
    assert out[0].rep_dup_word_frac == 0.6
    assert out[0].rep_n_2grams == 4
    assert out[0].rep_dup_2gram_frac == 1.0
    assert out[0].rep_top_2gram_count == 2
    assert out[1].rep_dup_word_frac == 0.0
    assert out[1].rep_n_2grams == 2
    assert out[1].rep_dup_2gram_frac == 0.0
    assert out[1].rep_top_2gram_count == 1
    assert out[2].rep_n_2grams == 0
    assert out[2].rep_dup_2gram_frac == 0.0
    assert out[2].rep_top_2gram_count == 0


def test_sessionize(spark):
    from datetime import datetime

    from smashed_spark.functions.sessions import SessionizeMapper

    rows = [
        (0, 1, datetime(2024, 1, 1, 10, 0)),
        (1, 1, datetime(2024, 1, 1, 10, 10)),   # same session (10 min)
        (2, 1, datetime(2024, 1, 1, 11, 0)),    # new session (50 min gap)
        (3, 2, datetime(2024, 1, 1, 10, 5)),    # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id: bigint, user_id: bigint, ts: timestamp"
    )
    out = SessionizeMapper().map(df).orderBy("event_id").collect()
    assert [r.session_idx for r in out] == [1, 1, 2, 1]


def test_sessionize_subsecond_gap(spark):
    """A 1800.5 s gap must split a 30-min session: gaps compare at
    microsecond precision, not truncated whole seconds."""
    from datetime import datetime

    from smashed_spark.functions.sessions import SessionizeMapper

    rows = [
        (0, 1, datetime(2024, 1, 1, 10, 0, 0, 0)),
        # exactly 1800 s later: NOT a break (gap must exceed 30 min)
        (1, 1, datetime(2024, 1, 1, 10, 30, 0, 0)),
        # 1800.5 s after event 1: a break at us precision, but
        # second-truncated arithmetic would see 1800 s and merge
        (2, 1, datetime(2024, 1, 1, 11, 0, 0, 500_000)),
    ]
    df = spark.createDataFrame(
        rows, "event_id: bigint, user_id: bigint, ts: timestamp"
    )
    out = SessionizeMapper().map(df).orderBy("event_id").collect()
    assert [r.session_idx for r in out] == [1, 1, 2]


def test_sessionize_ntz_is_timezone_independent(spark):
    """Gap arithmetic on TIMESTAMP_NTZ must not resolve zone offsets:
    under a DST session timezone, an NTZ->LTZ cast gives the two ends
    of a spring-forward-straddling gap different offsets and shrinks
    an 85-minute real gap to an apparent 25 minutes (no session
    break).  timestamp_diff compares wall-clock values directly."""
    from datetime import datetime

    from smashed_spark.functions.sessions import SessionizeMapper

    rows = [
        (0, 1, datetime(2026, 3, 8, 1, 45)),   # PST (-8) side of DST
        (1, 1, datetime(2026, 3, 8, 3, 10)),   # PDT (-7) side: 85 min later
    ]
    df = spark.createDataFrame(
        rows, "event_id: bigint, user_id: bigint, ts: timestamp_ntz"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        out = SessionizeMapper().map(df).orderBy("event_id").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert [r.session_idx for r in out] == [1, 2]


def test_ivf_topk_recall(spark):
    """IVF recall on *clustered* embeddings — the regime IVF exists
    for: true neighbors share a cluster, so the Lloyd quantizer's
    cells capture them and probing 2 of 8 cells suffices (measured
    recall 1.0; deterministic fixture+seed, so the 0.9 floor is a
    regression pin).  Uniform-random embeddings are the worst case —
    cells carry no neighbor signal and recall only approaches 1 as
    n_probe -> n_centroids — which is why this fixture is synthetic
    rather than the random testdata parquet."""
    import numpy as np

    from smashed_spark.functions.similarity import IVFCosineTopK

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, 64, axis=0) + 0.15 * rng.normal(size=(512, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(512)],
        "vec_id: bigint, embedding: array<float>",
    )
    exact = CosineTopK(k=3, queries_filter="vec_id < 10").map(df).collect()
    approx = IVFCosineTopK(
        k=3, n_centroids=8, n_probe=2, queries_filter="vec_id < 10"
    ).map(df).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"IVF recall too low: {recall}"


def test_ivf_injected_centroids_match_fit_and_skip_fit_jobs(spark):
    """Index reuse: fit once with fit_ivf_index, inject the plain
    [[float]] matrix, get byte-identical results to the internally-fit
    mapper — and the injected path must run ZERO fit jobs (pinned by
    poisoning the fit)."""
    import numpy as np

    from smashed_spark.functions.similarity import (
        IVFCosineTopK,
        fit_ivf_index,
    )

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(4, 16))
    pts = np.repeat(centers, 32, axis=0) + 0.1 * rng.normal(
        size=(128, 16)
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(128)],
        "vec_id: bigint, embedding: array<float>",
    )
    index = fit_ivf_index(df, n_centroids=4, seed=42)
    assert len(index) == 4 and all(len(c) == 16 for c in index)
    want = sorted(
        (r.query_id, r.neighbor_id, r.sim, r.rank)
        for r in IVFCosineTopK(
            k=3, n_centroids=4, n_probe=2, queries_filter="vec_id < 8"
        ).map(df).collect()
    )
    m = IVFCosineTopK(
        k=3, n_probe=2, queries_filter="vec_id < 8", centroids=index
    )
    m._fit_centroids = lambda base: (_ for _ in ()).throw(
        AssertionError("injected-centroids path ran a fit")
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.sim, r.rank)
        for r in m.map(df).collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="n_probe"):
        IVFCosineTopK(n_probe=5, centroids=index)
    with pytest.raises(ValueError, match="non-empty"):
        IVFCosineTopK(centroids=[])
    with pytest.raises(ValueError, match="rectangular"):
        IVFCosineTopK(centroids=[[1.0, 2.0], [1.0]])


def test_simhash_pairs_banding_is_exact(spark):
    """Pigeonhole banding must produce exactly the all-pairs
    Hamming-ball result, for every max_hamming (band count)."""
    import itertools
    import random

    from smashed_spark.functions.dedup import SimHashNearDupPairsMapper

    rng = random.Random(5)
    rows = [(i, rng.getrandbits(16)) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id: bigint, simhash: bigint")
    by_id = dict(rows)
    for k in (0, 1, 3, 5):
        got = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in SimHashNearDupPairsMapper(
                "doc_id", bits=16, max_hamming=k
            ).map(df).collect()
        )
        want = sorted(
            (a, b, bin(by_id[a] ^ by_id[b]).count("1"))
            for a, b in itertools.combinations(sorted(by_id), 2)
            if bin(by_id[a] ^ by_id[b]).count("1") <= k
        )
        assert got == want, (k, len(got), len(want))


def test_ivf_fit_replay_is_bit_identical(spark, sf_dir):
    """The ann_ivf_topk oracle embeds centroids replayed driver-side
    from the parquet via DuckDB; the mapper fits them through Spark
    collect.  Both paths must produce BIT-IDENTICAL float64 centroids
    (same hash-ordered fit set, same seeded numpy Lloyd) — any
    divergence here would surface as an opaque gate hash-mismatch."""
    import duckdb
    import numpy as np

    from smashed_spark.functions.similarity import (
        IVFCosineTopK,
        fit_ivf_centroids,
    )

    m = IVFCosineTopK(n_centroids=8, n_probe=3, max_iter=3, seed=42)
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = df.select(
        F.col("vec_id").alias("__id__"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__v__"),
    )
    spark_cents = m._fit_centroids(base)

    con = duckdb.connect()
    rows = con.execute(
        "SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        f"FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100000"
    ).fetchall()
    con.close()
    replayed = fit_ivf_centroids(
        np.array([r[0] for r in rows], dtype=np.float64), 8, 42, 3
    )
    assert np.array_equal(spark_cents, replayed)


def test_ivf_empty_corpus_raises(spark):
    from smashed_spark.functions.similarity import IVFCosineTopK

    df = spark.createDataFrame(
        [], "vec_id: bigint, embedding: array<float>"
    )
    with pytest.raises(ValueError, match="empty corpus"):
        IVFCosineTopK().map(df)


def test_simhash_64_bit_fingerprints(spark):
    """64-bit simhash: low word equals the plain 32-bit fingerprint
    (md5 word 0), the upper word is an independent simhash (md5 word
    1) actually carrying signal, and the DEFAULT SimHashMapper >>
    SimHashNearDupPairsMapper composition (both 64) yields exactly the
    brute-force Hamming-ball pairs — the defaults cannot silently band
    a narrow fingerprint as 64 bits (degenerate constant bands)."""
    import itertools

    from smashed_spark.functions.dedup import (
        SimHashMapper,
        SimHashNearDupPairsMapper,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2} common tokens here") for i in range(40)],
        "doc_id: bigint, text: string",
    ).withColumn("words", F.split("text", " "))

    h64 = {r.doc_id: r.simhash for r in SimHashMapper().map(docs).collect()}
    h32 = {
        r.doc_id: r.simhash
        for r in SimHashMapper(bits=32).map(docs).collect()
    }
    assert all((h64[d] & 0xFFFFFFFF) == h32[d] for d in h32)
    uppers = {(h64[d] >> 32) & 0xFFFFFFFF for d in h64}
    assert len(uppers) > 1  # upper word varies: real signal, not zeros

    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in (SimHashMapper() >> SimHashNearDupPairsMapper("doc_id"))
        .map(docs)
        .collect()
    )
    unsigned = {d: v & ((1 << 64) - 1) for d, v in h64.items()}
    want = sorted(
        (a, b, bin(unsigned[a] ^ unsigned[b]).count("1"))
        for a, b in itertools.combinations(sorted(unsigned), 2)
        if bin(unsigned[a] ^ unsigned[b]).count("1") <= 3
    )
    assert got == want


def test_simhash_pairs_default_64_bits_exact(spark):
    """The default is the web-scale 64-bit setting (16-bit bands at
    max_hamming=3 — Manku et al.), and banding stays exact there even
    with the sign bit set (fingerprints live in signed bigints)."""
    import itertools
    import random

    from smashed_spark.functions.dedup import SimHashNearDupPairsMapper

    m = SimHashNearDupPairsMapper("doc_id")
    assert m.bits == 64 and m.max_hamming == 3

    rng = random.Random(11)
    base = rng.getrandbits(64)
    raw = [base]
    for _ in range(20):  # cluster within/around the Hamming ball
        v = base
        for b in rng.sample(range(64), rng.randint(1, 6)):
            v ^= 1 << b
        raw.append(v)
    signed = [v - (1 << 64) if v >= (1 << 63) else v for v in raw]
    df = spark.createDataFrame(
        list(enumerate(signed)), "doc_id: bigint, simhash: bigint"
    )
    got = sorted(
        (r.id_a, r.id_b, r.hamming) for r in m.map(df).collect()
    )
    by_id = dict(enumerate(raw))
    want = sorted(
        (a, b, bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1"))
        for a, b in itertools.combinations(sorted(by_id), 2)
        if bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    assert got == want and got, (len(got), len(want))


def test_simhash_pairs_plan_is_equi_join(spark):
    from smashed_spark.functions.dedup import SimHashNearDupPairsMapper

    df = spark.createDataFrame(
        [(1, 3), (2, 7)], "doc_id: bigint, simhash: bigint"
    )
    out = SimHashNearDupPairsMapper("doc_id", bits=16, max_hamming=3).map(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_simhash_band_occupancy_guard(spark):
    """The occupancy fail-fast: a forced hot band bucket (identical
    fingerprints share every band) must fail the job in the banding
    stage naming the fix; a generous or disabled cap lets the
    (accepted-quadratic) join run.  The guard is IN-PLAN (a window
    count over the join keys feeding raise_error), so apply() itself
    stays lazy — pinned by a poison input that only detonates on
    action."""
    from smashed_spark.functions.dedup import SimHashNearDupPairsMapper

    df = spark.createDataFrame(
        [(i, 12345) for i in range(30)], "doc_id: bigint, simhash: bigint"
    )
    hot = SimHashNearDupPairsMapper(
        "doc_id", bits=16, max_hamming=3, max_band_occupancy=10
    ).map(df)  # plan builds fine; the raise happens at action time
    with pytest.raises(Exception, match="band bucket"):
        hot.count()
    for cap in (None, 50):
        out = SimHashNearDupPairsMapper(
            "doc_id", bits=16, max_hamming=3, max_band_occupancy=cap
        ).map(df)
        assert out.count() == 30 * 29 // 2

    # laziness contract: an input whose evaluation raises must survive
    # apply() (plan building runs zero jobs) and only fail on action
    poison = df.withColumn(
        "simhash",
        F.when(
            F.col("doc_id") >= 0, F.raise_error(F.lit("poison input"))
        )
        .otherwise(F.lit(1))
        .cast("bigint"),
    )
    lazy = SimHashNearDupPairsMapper(
        "doc_id", bits=16, max_hamming=3, max_band_occupancy=10
    ).map(poison)
    with pytest.raises(Exception, match="poison input"):
        lazy.count()
    with pytest.raises(ValueError, match="max_band_occupancy"):
        SimHashNearDupPairsMapper("doc_id", max_band_occupancy=0)
    # ADVICE r7: a >64-bit fingerprint cannot fit one band in a bigint
    with pytest.raises(ValueError, match="max_hamming >= 1"):
        SimHashNearDupPairsMapper("doc_id", bits=128, max_hamming=0)


def _u128_to_words(v):
    """128-bit int -> little-endian [lo, hi] signed bigint words (the
    SimHashMapper bits>64 wire format)."""
    def signed(w):
        return w - (1 << 64) if w >= (1 << 63) else w

    return [signed(v & ((1 << 64) - 1)), signed(v >> 64)]


def test_simhash_pairs_128_bit_banding_is_exact(spark):
    """Wide (two-word) banding must equal the brute-force 128-bit
    Hamming ball for several band counts — including max_hamming=2,
    whose middle band (bits 43..85) straddles the word boundary."""
    import itertools
    import random

    from smashed_spark.functions.dedup import SimHashNearDupPairsMapper

    rng = random.Random(7)
    raw = [rng.getrandbits(128) for _ in range(60)]
    base = rng.getrandbits(128)
    raw.append(base)  # k=1 pairs: base vs its single-flip variants
    for _ in range(15):  # a cluster inside/near the Hamming ball
        v = base
        for b in rng.sample(range(128), rng.randint(1, 5)):
            v ^= 1 << b
        raw.append(v)
    df = spark.createDataFrame(
        [(i, _u128_to_words(v)) for i, v in enumerate(raw)],
        "doc_id: bigint, simhash: array<bigint>",
    )
    # k=1 exercises the width-64 whole-word bands ([64, 64]), the
    # widest legal banding for a two-word fingerprint
    for k in (1, 2, 3, 5):
        got = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in SimHashNearDupPairsMapper(
                "doc_id", bits=128, max_hamming=k
            ).map(df).collect()
        )
        want = sorted(
            (a, b, bin(raw[a] ^ raw[b]).count("1"))
            for a, b in itertools.combinations(range(len(raw)), 2)
            if bin(raw[a] ^ raw[b]).count("1") <= k
        )
        assert got == want, (k, len(got), len(want))
        assert got  # the cluster guarantees real pairs


def test_simhash_mapper_128_bit_wide_tier(spark):
    """bits=128 emits array<bigint> [lo, hi]: word 0 bit-identical to
    the plain bits=64 fingerprint (both hash families), word 1 carrying
    independent signal; the end-to-end 128-bit composition equals the
    brute-force Hamming ball over the composed 128-bit values."""
    import itertools

    from smashed_spark.functions.dedup import (
        SimHashMapper,
        SimHashNearDupPairsMapper,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2} common tokens here") for i in range(40)],
        "doc_id: bigint, text: string",
    ).withColumn("words", F.split("text", " "))

    for fn in ("md5", "xxhash64"):
        wide = {
            r.doc_id: r.simhash
            for r in SimHashMapper(bits=128, hash_fn=fn).map(docs).collect()
        }
        h64 = {
            r.doc_id: r.simhash
            for r in SimHashMapper(bits=64, hash_fn=fn).map(docs).collect()
        }
        assert all(len(w) == 2 for w in wide.values())
        assert all(wide[d][0] == h64[d] for d in h64), fn
        assert len({w[1] for w in wide.values()}) > 1, fn

    pairs = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in (
            SimHashMapper(bits=128)
            >> SimHashNearDupPairsMapper("doc_id", bits=128, max_hamming=6)
        )
        .map(docs)
        .collect()
    )
    wide = {
        r.doc_id: r.simhash
        for r in SimHashMapper(bits=128).map(docs).collect()
    }
    u = {
        d: (w[0] & ((1 << 64) - 1)) | ((w[1] & ((1 << 64) - 1)) << 64)
        for d, w in wide.items()
    }
    want = sorted(
        (a, b, bin(u[a] ^ u[b]).count("1"))
        for a, b in itertools.combinations(sorted(u), 2)
        if bin(u[a] ^ u[b]).count("1") <= 6
    )
    assert pairs == want


def test_ngram_jaccard_prefix_fp_boundary_pair(spark):
    """ADVICE r4: ceil(t * nc) on doubles can double-round UP when the
    exact product is an integer — fl(0.56) * 25 = 14.000000000000002,
    ceil = 15 — shortening the prefix by one and silently dropping a
    pair whose Jaccard is exactly t.  x has 25 distinct shingles (11
    unique + 14 shared), y the 14 shared ones: Jaccard = 14/25 = 0.56
    exactly, and the buggy 11-long prefix of x is exactly its 11
    unique shingles, so the pair is only found via the epsilon-backed
    ceil."""
    x_words = [f"w{i}" for i in range(25)]
    y_words = [f"w{i}" for i in range(14)]
    df = spark.createDataFrame(
        [(0, x_words), (1, y_words)],
        "doc_id: bigint, words: array<string>",
    )
    m = NGramJaccardPairsMapper("doc_id", shingle_size=1, threshold=0.56)
    m.AUTO_SKEW_THRESHOLD = 0.0  # the probe picks prefix
    out = m.map(df).collect()
    assert m.resolved_method == "prefix"
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert out[0].jaccard == pytest.approx(0.56, abs=1e-9)


def test_ngram_jaccard_auto_method_routing(spark):
    """The plan choice probes the shingle fan-out skew
    ratio: a Zipfian corpus (hub shingles + rare tail — every real
    text corpus) must route to PPJoin 'prefix'; a uniform tiny-vocab
    corpus (every shingle equally hot, nothing for prefixes to
    exploit) must route to 'join'.  Output is method-independent
    (property-tested elsewhere); this pins the PLAN choice."""
    import numpy as np

    rng = np.random.RandomState(3)
    zipf_rows = []
    for i in range(300):
        words = [f"w{min(int(w), 5000)}" for w in rng.zipf(1.3, 40)]
        zipf_rows.append((i, words))
    zipf = spark.createDataFrame(
        zipf_rows, "doc_id: bigint, words: array<string>"
    )
    m = NGramJaccardPairsMapper("doc_id", threshold=0.9)
    assert m._choose_method(zipf) == "prefix"

    vocab = [f"v{i}" for i in range(50)]
    uni_rows = [
        (i, [vocab[j] for j in rng.randint(0, 50, 40)])
        for i in range(300)
    ]
    uni = spark.createDataFrame(
        uni_rows, "doc_id: bigint, words: array<string>"
    )
    assert m._choose_method(uni) == "join"
    # end-to-end: apply() resolves and records the choice
    m.map(uni)
    assert m.resolved_method == "join"
    # the memo is keyed on the input plan, not the instance: reusing
    # the SAME mapper on the Zipfian corpus re-probes and flips the
    # plan (a stale instance-level memo would keep 'join')
    m.map(zipf)
    assert m.resolved_method == "prefix"
    # and returning to the uniform corpus hits the memo (no re-probe
    # needed for the flip back to be correct)
    m.map(uni)
    assert m.resolved_method == "join"


# ---------------------------------------------------------------- #
# fuzzy_dedup: the one-call pairs -> clusters -> is_kept recipe     #
# ---------------------------------------------------------------- #


def _fuzzy_corpus(spark):
    """Docs 0/1 identical, 2 near-identical (one word swapped),
    3..5 pairwise-distinct random-ish text."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),
        (2, base.replace("lazy", "sleepy")),
        (3, "completely different words about spark plans and shuffles"),
        (4, "yet another unrelated document concerning parquet readers"),
        (5, "a third standalone text mentioning arrow batches only"),
    ]
    return spark.createDataFrame(rows, "doc_id: bigint, text: string")


def _keeper_map(df):
    return {
        r.doc_id: (r.cluster_id, r.is_kept) for r in df.collect()
    }


def test_fuzzy_dedup_minhash_end_to_end(spark):
    from smashed_spark.functions.dedup import fuzzy_dedup

    out = fuzzy_dedup(
        _fuzzy_corpus(spark),
        method="minhash",
        threshold=0.5,
        bands=8,
        rows_per_band=2,
    )
    got = _keeper_map(out)
    # 0/1/2 form one cluster with 0 as the kept representative
    assert got[0] == (0, 1)
    assert got[1] == (0, 0) and got[2] == (0, 0)
    for singleton in (3, 4, 5):
        assert got[singleton] == (singleton, 1)
    # schema contract: input columns preserved + the two tags
    assert set(out.columns) == {"doc_id", "text", "cluster_id", "is_kept"}


def test_fuzzy_dedup_methods_agree_on_clear_corpus(spark):
    """On a corpus with an unambiguous duplicate cluster, the exact
    ngram path and the verified minhash path produce the same
    clustering; simhash (hamming<=3 on near-identical docs) agrees."""
    from smashed_spark.functions.dedup import fuzzy_dedup

    corpus = _fuzzy_corpus(spark)
    ng = _keeper_map(fuzzy_dedup(corpus, method="ngram", threshold=0.5))
    mh = _keeper_map(
        fuzzy_dedup(
            corpus, method="minhash", threshold=0.5,
            bands=8, rows_per_band=2,
        )
    )
    sh = _keeper_map(fuzzy_dedup(corpus, method="simhash"))
    assert ng == mh == sh


def test_fuzzy_dedup_unverified_minhash_keeps_lsh_candidates(spark):
    """verify=False clusters raw LSH candidates: never fewer cluster
    members than the verified run (banding only ADDS false
    positives)."""
    from smashed_spark.functions.dedup import fuzzy_dedup

    corpus = _fuzzy_corpus(spark)
    kw = dict(method="minhash", threshold=0.5, bands=8, rows_per_band=2)
    verified = _keeper_map(fuzzy_dedup(corpus, verify=True, **kw))
    raw = _keeper_map(fuzzy_dedup(corpus, verify=False, **kw))
    dup_v = {k for k, (_, kept) in verified.items() if kept == 0}
    dup_r = {k for k, (_, kept) in raw.items() if kept == 0}
    assert dup_v <= dup_r


def test_fuzzy_dedup_embedding_method(spark):
    from smashed_spark.functions.dedup import fuzzy_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, embedding: array<float>")
    got = _keeper_map(
        fuzzy_dedup(df, method="embedding", threshold=0.9)
    )
    assert got[0] == (0, 1) and got[1] == (0, 0)
    assert got[2] == (2, 1) and got[3] == (3, 1)


def test_fuzzy_dedup_rejects_unknown_method_and_missing_columns(spark):
    from smashed_spark.functions.dedup import fuzzy_dedup

    corpus = _fuzzy_corpus(spark)
    with pytest.raises(ValueError, match="unknown fuzzy_dedup method"):
        fuzzy_dedup(corpus, method="nope")
    no_text = corpus.drop("text")
    with pytest.raises(ValueError, match="needs a 'words'"):
        fuzzy_dedup(no_text, method="ngram")


# ---------------------------------------------------------------- #
# SemanticNearDupPairsMapper (SemDeDup): cluster-scoped cosine      #
# ---------------------------------------------------------------- #


def _clustered_vectors(n_per=20, dims=8, seed=7):
    """Three tight clusters far apart + per-vector jitter: semantic
    duplicates share a cluster by construction (the SemDeDup regime)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    anchors = np.eye(3, dims) * 10.0
    rows = []
    vid = 0
    for a in anchors:
        for _ in range(n_per):
            v = a + rng.normal(0, 0.15, dims)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return rows


def test_semantic_pairs_match_bruteforce_within_cells(spark):
    """Pairs == brute-force cosine>=thr restricted to same kmeans cell
    (the mapper's exact contract), and on a well-clustered corpus the
    cell restriction loses nothing vs the global exact pair set."""
    import numpy as np

    from smashed_spark.functions.dedup import (
        EmbeddingNearDupPairsMapper,
        SemanticNearDupPairsMapper,
    )
    from smashed_spark.functions.similarity import (
        fit_ivf_centroids,
    )

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    thr = 0.9
    m = SemanticNearDupPairsMapper(
        threshold=thr, n_centroids=3, seed=42, max_iter=5
    )
    got = {
        (r.id_a, r.id_b): r.sim for r in m.map(df).collect()
    }

    # driver-side replay: same fit sample (hash order), same Lloyd,
    # same argmax assignment, brute-force within-cell cosine
    import hashlib

    order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    mat = np.array([r[1] for r in order], dtype=np.float64)
    cents = fit_ivf_centroids(mat, 3, 42, 5)
    ids = np.array([r[0] for r in rows])
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    unit = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    cells = np.argmax(unit @ cents.T, axis=1)
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = int(ids[i]), int(ids[j])
            if a > b:
                a, b = b, a
            if cells[i] == cells[j]:
                s = float(unit[i] @ unit[j])
                if s >= thr:
                    want[(a, b)] = round(s, 6)
    assert got == want
    # clustered corpus: cell restriction == global exact pair set
    exact = {
        (r.id_a, r.id_b)
        for r in EmbeddingNearDupPairsMapper(threshold=thr).map(df).collect()
    }
    assert set(got) == exact


def test_semantic_cell_cap_fails_fast(spark):
    from smashed_spark.functions.dedup import SemanticNearDupPairsMapper

    rows = _clustered_vectors(n_per=30)
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    m = SemanticNearDupPairsMapper(
        threshold=0.9, n_centroids=1, max_cell_size=10
    )
    with pytest.raises(Exception, match="max_cell_size"):
        m.map(df).count()


def test_semantic_dedup_tags_corpus(spark):
    from smashed_spark.functions.dedup import semantic_dedup

    # n_per=20: enough fit points that the 3-centroid quantizer lands
    # one centroid per anchor (a 15-point fit can split a tight cluster
    # across two cells — the SemDeDup approximation surfacing, not a
    # bug; the pairs-level contract is pinned by the bruteforce test)
    rows = _clustered_vectors(n_per=20)
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    out = semantic_dedup(df, threshold=0.9, n_centroids=3)
    got = {r.vec_id: (r.cluster_id, r.is_kept) for r in out.collect()}
    assert len(got) == 60
    # every tight cluster keeps exactly one representative
    kept = [v for v, (_, k) in got.items() if k == 1]
    assert len(kept) == 3
    # representatives are the min ids of their clusters
    for v, (cid, k) in got.items():
        assert (cid == v) == (k == 1)


def test_fuzzy_dedup_semantic_method(spark):
    from smashed_spark.functions.dedup import fuzzy_dedup

    rows = _clustered_vectors(n_per=20)
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    out = fuzzy_dedup(
        df, id_field="vec_id", method="semantic", threshold=0.9,
        n_centroids=3,
    )
    kept = out.filter("is_kept = 1").count()
    assert kept == 3


# ---------------------------------------------------------------- #
# normalize_for_dedup + incremental (append-only) dedup             #
# ---------------------------------------------------------------- #


def test_normalize_for_dedup_canonicalizes(spark):
    from smashed_spark.functions.dedup import (
        ExactDedupMapper,
        normalize_for_dedup,
    )

    rows = [
        (0, "Hello,   World!"),
        (1, "hello world"),
        (2, "HELLO-WORLD?"),
        (3, "entirely different"),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string").withColumn(
        "norm_text", normalize_for_dedup(F.col("text"))
    )
    vals = {r.doc_id: r.norm_text for r in df.collect()}
    assert vals[0] == vals[1] == vals[2] == "hello world"
    kept = (
        ExactDedupMapper(text_field="norm_text").map(df).collect()
    )
    assert {r.doc_id for r in kept} == {0, 3}
    assert {r.doc_id: r.dup_count for r in kept}[0] == 3


def test_dedup_incremental_against_running_index(spark):
    from smashed_spark.functions.dedup import (
        dedup_incremental,
        with_digests,
    )

    day1 = spark.createDataFrame(
        [(0, "aaa"), (1, "bbb"), (2, "aaa")], "doc_id: bigint, text: string"
    )
    index = with_digests(day1.limit(0))  # empty index
    kept1 = dedup_incremental(day1, index)
    assert {r.doc_id for r in kept1.collect()} == {0, 1}  # in-batch dedup
    index = index.unionByName(with_digests(kept1))

    day2 = spark.createDataFrame(
        [(3, "bbb"), (4, "ccc"), (5, "ccc"), (6, "aaa")],
        "doc_id: bigint, text: string",
    )
    kept2 = dedup_incremental(day2, index)
    # bbb and aaa already seen; ccc new, in-batch deduped to first
    assert {r.doc_id for r in kept2.collect()} == {4}
    # surviving rows keep the digest column for index maintenance
    assert "digest" in kept2.columns


def test_dedup_incremental_fuzzy_against_band_index(spark):
    """Fuzzy ingestion dedup: near-dups of indexed history drop on
    band collision, the batch greedily first-wins-dedups internally,
    survivors keep the signature column, and the survivors' bands
    extend the index without re-shingling."""
    from smashed_spark.functions.dedup import (
        dedup_incremental_fuzzy,
        with_minhash_bands,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight").split()
    near = base[:-1] + ["tomorrow"]          # near-dup of base
    other = [f"tok{i}" for i in range(25)]   # unrelated
    near_other = other[:-1] + ["changed"]    # near-dup of other

    day1 = spark.createDataFrame(
        [(0, " ".join(base))], "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    index = with_minhash_bands(day1)
    assert index.columns == ["band", "key"]
    n_index = index.count()
    assert 0 < n_index <= 4  # <= bands rows per doc

    day2 = spark.createDataFrame(
        [
            (10, " ".join(near)),        # hits history -> dropped
            (11, " ".join(other)),       # fresh, earliest -> kept
            (12, " ".join(near_other)),  # batch collision with 11 -> dropped
            (13, "completely different words entirely unique here"),
        ],
        "doc_id: bigint, text: string",
    ).withColumn("words", F.split("text", " "))
    kept = dedup_incremental_fuzzy(day2, index)
    assert {r.doc_id for r in kept.collect()} == {11, 13}
    assert "minhash" in kept.columns
    # partition invariance: pure function of the data
    kept_re = dedup_incremental_fuzzy(day2.repartition(7), index)
    assert {r.doc_id for r in kept_re.collect()} == {11, 13}
    # index extension reuses the carried signatures (no words needed)
    ext = with_minhash_bands(kept.drop("words", "text"))
    index2 = index.unionByName(ext).distinct()
    # day-3 replay of an already-kept doc now drops against the
    # extended index
    day3 = spark.createDataFrame(
        [(20, " ".join(other))], "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    assert dedup_incremental_fuzzy(day3, index2).count() == 0
    # ... but drops nothing against the ORIGINAL day-1 index
    assert dedup_incremental_fuzzy(day3, index).count() == 1


def test_dedup_incremental_fuzzy_greedy_chain_contract(spark):
    """Documented greedy banding contract: in a chain a->b->c where c
    collides only with b (already dropped by a), c is STILL dropped —
    the bucket's min is the dropped doc.  Conservative over-drop,
    deterministic."""
    from smashed_spark.functions.dedup import dedup_incremental_fuzzy

    a = [f"w{i}" for i in range(30)]
    b = a[:-2] + ["x1", "x2"]      # near a
    c = b[:-4] + ["x1", "x2", "y1", "y2"]  # near b, farther from a
    df = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b)), (3, " ".join(c))],
        "doc_id: bigint, text: string",
    ).withColumn("words", F.split("text", " "))
    empty_index = spark.createDataFrame([], "band: int, key: string")
    kept = {
        r.doc_id
        for r in dedup_incremental_fuzzy(df, empty_index).collect()
    }
    # 1 always survives; whether 2/3 collide depends on signatures,
    # but the contract is: anything colliding with a bucket whose min
    # is 1 (or a dropped doc) goes.  Verify against a driver replay.
    from smashed_spark.functions.dedup import MinHashMapper
    from smashed_spark.functions.hashing import band_keys

    sig = MinHashMapper().map(df)
    bands_rows = sig.select(
        "doc_id",
        F.explode(band_keys(F.col("minhash"), 4, 4)).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key").collect()
    mins = {}
    for r in bands_rows:
        k = (r.band, r.key)
        mins[k] = min(mins.get(k, r.doc_id), r.doc_id)
    want = set()
    by_doc = {}
    for r in bands_rows:
        by_doc.setdefault(r.doc_id, []).append((r.band, r.key))
    for d, ks in by_doc.items():
        if all(mins[k] == d for k in ks):
            want.add(d)
    assert kept == want and 1 in kept


def test_dedup_incremental_order_key_fail_fast(spark):
    """r7 wrong #4 + r9 duplicate-tolerant guard: a duplicate or NULL
    order_by must not silently degrade the window semantics (exact) or
    fan the survivors join out (fuzzy).  Fuzzy raises loudly in-plan
    on EVERY duplicate order key — byte-identical documents included —
    because the guard counts per-id band rows BEFORE the indicator
    join, which also keeps it silent under duplicate INDEX rows (the
    r9 duplicate-tolerance change; post-join formulations must pick
    one or the other).  Exact pins ties — which by construction share
    a digest, i.e. identical text, the epoch-oversample shape — with
    the content-hash tiebreak so the result is a pure function of the
    data.  NULL keys raise on both paths."""
    from smashed_spark.functions.dedup import (
        dedup_incremental,
        dedup_incremental_fuzzy,
    )

    empty_digests = spark.createDataFrame([], "digest: string")
    empty_bands = spark.createDataFrame([], "band: int, key: string")

    dup = spark.createDataFrame(
        [(1, "aaa bbb ccc"), (1, "aaa bbb ccc"), (2, "xxx yyy zzz")],
        "doc_id: bigint, text: string",
    )
    # exact path: tied full-duplicate rows collapse deterministically
    got = dedup_incremental(dup, empty_digests)
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]
    # ties with DIFFERING payload columns pick the content-hash winner
    # invariantly of partition layout
    dup_meta = spark.createDataFrame(
        [(1, "aaa bbb ccc", "s1"), (1, "aaa bbb ccc", "s2"),
         (2, "xxx yyy zzz", "s3")],
        "doc_id: bigint, text: string, src: string",
    )
    pick1 = sorted(
        (r.doc_id, r.src)
        for r in dedup_incremental(dup_meta, empty_digests).collect()
    )
    pick2 = sorted(
        (r.doc_id, r.src)
        for r in dedup_incremental(
            dup_meta.repartition(7), empty_digests
        ).collect()
    )
    assert pick1 == pick2 and len(pick1) == 2
    # an id duplicated across BYTE-IDENTICAL docs raises too: the
    # pre-join row count sees 2 x bands rows for the id (a post-join
    # distinct-slot count would go blind here — identical docs share
    # every band key)
    with pytest.raises(Exception, match="not unique"):
        dedup_incremental_fuzzy(
            dup.withColumn("words", F.split("text", " ")), empty_bands
        ).collect()

    withnull = spark.createDataFrame(
        [(None, "aaa bbb ccc"), (2, "xxx yyy zzz")],
        "doc_id: bigint, text: string",
    )
    with pytest.raises(Exception, match="NULL"):
        dedup_incremental(withnull, empty_digests).collect()
    with pytest.raises(Exception, match="NULL"):
        dedup_incremental_fuzzy(
            withnull.withColumn("words", F.split("text", " ")),
            empty_bands,
        ).collect()

    # duplicate order keys under DIFFERENT digests also raise on the
    # fuzzy path (the decision merge is per-id, digest-independent)
    dup2 = spark.createDataFrame(
        [(1, "aaa bbb ccc"), (1, "ddd eee fff")],
        "doc_id: bigint, text: string",
    )
    with pytest.raises(Exception, match="not unique"):
        dedup_incremental_fuzzy(
            dup2.withColumn("words", F.split("text", " ")), empty_bands
        ).collect()

    # the guard holds on the verify path and in probe mode too, against
    # an empty index and against one that holds a batch doc's band keys
    from smashed_spark.functions.dedup import with_minhash_bands

    seen_bands = with_minhash_bands(
        dup2.where("text = 'aaa bbb ccc'").withColumn(
            "words", F.split("text", " ")
        )
    ).select("band", "key")
    for index in (empty_bands, seen_bands):
        for opts in (
            {"verify_threshold": 0.5},
            {"broadcast_probe": True},
            {"verify_threshold": 0.5, "broadcast_probe": True},
        ):
            for batch in (dup, dup2):
                with pytest.raises(Exception, match="not unique"):
                    dedup_incremental_fuzzy(
                        batch.withColumn("words", F.split("text", " ")),
                        index,
                        **opts,
                    ).collect()


def test_dedup_incremental_fuzzy_verify_threshold(spark):
    """Opt-in in-batch verification: batch-internal band collisions
    only drop when exact shingle-Jaccard confirms them, so LSH
    false positives survive; history drops stay band-verdict.
    Properties: verified survivors are a superset of unverified ones,
    a threshold above every true similarity rescues everything
    batch-internal, and on clique-shaped corpora the survivors equal
    fuzzy_dedup(method='minhash')'s representatives."""
    from smashed_spark.functions.dedup import (
        dedup_incremental_fuzzy,
        fuzzy_dedup,
        with_minhash_bands,
    )

    empty_bands = spark.createDataFrame([], "band: int, key: string")
    rng = __import__("random").Random(11)
    rows = []
    # 3 near-dup cliques of 3 docs (one word swapped) + 12 distinct
    for c in range(3):
        base = [f"c{c}w{i}" for i in range(30)]
        for j in range(3):
            words = list(base)
            if j:
                words[-j] = f"c{c}swap{j}"
            rows.append((c * 10 + j, " ".join(words)))
    for d in range(12):
        rows.append((100 + d, " ".join(f"d{d}x{i}" for i in range(25))))
    df = spark.createDataFrame(
        rows, "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))

    kept_plain = {
        r.doc_id
        for r in dedup_incremental_fuzzy(df, empty_bands).collect()
    }
    kept_verified = {
        r.doc_id
        for r in dedup_incremental_fuzzy(
            df, empty_bands, verify_threshold=0.5
        ).collect()
    }
    # verification only RESCUES docs, never drops more
    assert kept_verified >= kept_plain
    # an unreachable threshold rescues every batch-internal collision
    kept_all = {
        r.doc_id
        for r in dedup_incremental_fuzzy(
            df, empty_bands, verify_threshold=1.01
        ).collect()
    }
    assert kept_all == {r[0] for r in rows}
    # clique corpus: verified greedy first-wins == fuzzy_dedup's
    # cluster representatives at the same threshold/banding
    want = {
        r.doc_id
        for r in fuzzy_dedup(
            df, method="minhash", threshold=0.5
        ).filter(F.col("is_kept") == 1).collect()
    }
    assert kept_verified == want
    # history drops stay band-verdict: index day-1, replay a near-dup
    day1 = df.filter(F.col("doc_id") < 100)
    index = with_minhash_bands(day1)
    replay = df.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text", "words"
    )
    assert (
        dedup_incremental_fuzzy(
            replay, index, verify_threshold=1.01
        ).count()
        == 0
    )
    # verify_threshold without words raises
    with pytest.raises(ValueError, match="words_field"):
        dedup_incremental_fuzzy(
            df.drop("words").withColumn(
                "minhash", F.array(*[F.lit(i) for i in range(16)])
            ),
            empty_bands,
            verify_threshold=0.5,
        )


def test_normalize_for_dedup_idempotent(spark):
    """normalize(normalize(x)) == normalize(x) — the canonical key is
    a fixpoint, so re-running a pipeline over already-normalized text
    can never re-split dedup groups."""
    from smashed_spark.functions.dedup import normalize_for_dedup

    rows = [
        (0, "Mixed   CASE, with 123 digits & symbols!"),
        (1, "tabs\tand\nnewlines   everywhere"),
        (2, "ünïcödé Wörds—stay (léttèrs are \\p{L})"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    once = df.select(
        "doc_id", normalize_for_dedup(F.col("text")).alias("n1")
    )
    twice = once.select(
        "doc_id", "n1", normalize_for_dedup(F.col("n1")).alias("n2")
    )
    for r in twice.collect():
        assert r.n1 == r.n2, r


def test_simhash_xxhash64_production_path(spark):
    """The xxhash64 fast path: near-identical docs stay within a small
    Hamming ball, distinct docs far apart, fingerprints partition-
    invariant, and the banded pairs mapper composes unchanged."""
    from smashed_spark.functions.dedup import (
        SimHashMapper,
        SimHashNearDupPairsMapper,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = [
        (0, base),
        (1, base[:-1] + ["changed"]),       # near-dup of 0
        (2, [f"other{i}" for i in range(20)]),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, words: array<string>")
    m = SimHashMapper(bits=64, hash_fn="xxhash64")
    sig = {r.doc_id: r.simhash for r in m.map(df).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(sig[0], sig[1]) <= 10
    assert ham(sig[0], sig[2]) > 16
    # partition invariance (pure per-row expression)
    sig2 = {
        r.doc_id: r.simhash
        for r in m.map(df.repartition(5)).collect()
    }
    assert sig == sig2
    # composes with the pairs mapper: 0-1 found, 2 isolated
    pairs = SimHashNearDupPairsMapper(
        "doc_id", bits=64, max_hamming=10
    ).map(m.map(df))
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 1)}


def test_simhash_from_hashes_bit63_sign_convention(spark):
    """bits=64 fingerprints stay inside signed bigint: the top bit
    contributes the NEGATIVE two's-complement mask, matching the
    md5-composed wide path's convention."""
    from smashed_spark.functions.hashing import simhash_from_hashes

    # every token hash has bit 63 set -> sum > 0 -> bit 63 in output
    df = spark.createDataFrame([([-1, -2],)], "h: array<bigint>")
    out = df.select(simhash_from_hashes(F.col("h"), 64).alias("s"))
    v = out.collect()[0].s
    assert v < 0  # sign bit set, value representable


def test_minhash_xxhash64_production_path(spark):
    """xxhash64-based signatures: multiplicity-invariant, partition-
    invariant, compose with LSH banding, and identical word sets give
    identical signatures (the Jaccard-estimator contract holds for any
    uniform hash family)."""
    from smashed_spark.functions.dedup import (
        MinHashLSHPairsMapper,
        MinHashMapper,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lam mu").split()
    rows = [
        (0, base),
        (1, list(base)),                      # identical content
        (2, [f"zz{i}" for i in range(12)]),   # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, words: array<string>")
    m = MinHashMapper(num_hashes=16, hash_fn="xxhash64")
    sig = {r.doc_id: list(r.minhash) for r in m.map(df).collect()}
    assert sig[0] == sig[1] != sig[2]
    assert all(0 <= h < 2_147_483_647 for h in sig[0])
    sig2 = {
        r.doc_id: list(r.minhash)
        for r in m.map(df.repartition(3)).collect()
    }
    assert sig == sig2
    pairs = MinHashLSHPairsMapper("doc_id", bands=4, rows_per_band=4).map(
        m.map(df)
    )
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 1)}


def test_semantic_auto_centroids_and_empty_corpus(spark):
    """n_centroids='auto' (default) sizes k from the corpus so cells
    stay ~target_cell_size; an empty corpus yields an empty pair set
    (pipeline-composable), not a fit error."""
    from smashed_spark.functions.dedup import SemanticNearDupPairsMapper

    rows = _clustered_vectors(n_per=20)  # 60 vectors
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    m = SemanticNearDupPairsMapper(threshold=0.9, target_cell_size=20)
    # 60 vectors / 20 target -> k=3, which resolves the three anchors:
    # same pair set as the explicit k=3 run
    auto_pairs = {(r.id_a, r.id_b) for r in m.map(df).collect()}
    explicit = {
        (r.id_a, r.id_b)
        for r in SemanticNearDupPairsMapper(
            threshold=0.9, n_centroids=3
        ).map(df).collect()
    }
    assert auto_pairs == explicit and auto_pairs

    empty = spark.createDataFrame([], "vec_id: bigint, embedding: array<double>")
    out = m.map(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "sim"]

    with pytest.raises(ValueError, match="positive int or 'auto'"):
        SemanticNearDupPairsMapper(n_centroids=0)


def test_fuzzy_dedup_equals_manual_stage_composition(spark, sf_dir):
    """On the real testdata corpus, the one-call recipe reproduces the
    hand-composed chain exactly (same mappers, same parameters): the
    recipe adds packaging, never semantics."""
    from smashed_spark.functions.dedup import (
        MinHashLSHPairsMapper,
        MinHashMapper,
        _verify_candidates_jaccard,
        fuzzy_dedup,
    )
    from smashed_spark.functions.graph import DedupClustersMapper

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    one_call = {
        r.doc_id: (r.cluster_id, r.is_kept)
        for r in fuzzy_dedup(
            docs, method="minhash", threshold=0.5,
            bands=8, rows_per_band=2,
        ).collect()
    }
    work = docs.withColumn("words", F.split("text", " "))
    signed = MinHashMapper(num_hashes=16, shingle_size=3).map(work)
    pairs = MinHashLSHPairsMapper(
        "doc_id", bands=8, rows_per_band=2
    ).map(signed)
    verified = _verify_candidates_jaccard(
        pairs, work, "doc_id", "words", 3, 0.5
    )
    manual = {
        r.doc_id: (r.cluster_id, r.is_kept)
        for r in DedupClustersMapper(
            verified.select("id_a", "id_b")
        ).map(docs).collect()
    }
    assert one_call == manual
    assert sum(k for _, k in one_call.values()) < len(one_call)  # dups exist


def test_semantic_pairs_injected_centroids_match_fit(spark):
    """SemanticNearDupPairsMapper(centroids=...) reuses a persisted
    quantizer: same pairs as the internally-fit path at the same k,
    zero fit/count jobs (pinned by poisoning both)."""
    import numpy as np

    from smashed_spark.functions.dedup import SemanticNearDupPairsMapper
    from smashed_spark.functions.similarity import fit_ivf_index

    rng = np.random.RandomState(5)
    centers = rng.normal(size=(3, 12))
    pts = np.repeat(centers, 40, axis=0) + 0.05 * rng.normal(
        size=(120, 12)
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(120)],
        "vec_id: bigint, embedding: array<float>",
    )
    index = fit_ivf_index(df, n_centroids=3, seed=42)
    want = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in SemanticNearDupPairsMapper(
            threshold=0.9, n_centroids=3
        ).map(df).collect()
    )
    m = SemanticNearDupPairsMapper(threshold=0.9, centroids=index)
    from pyspark.sql import DataFrame as _DF

    got = sorted(
        (r.id_a, r.id_b, r.sim) for r in m.map(df).collect()
    )
    assert got == want and got
    with pytest.raises(ValueError, match="rectangular"):
        SemanticNearDupPairsMapper(centroids=[[1.0], [1.0, 2.0]])


def test_ivf_injected_centroids_dims_mismatch_raises_clearly(spark):
    from smashed_spark.functions.similarity import IVFCosineTopK

    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0]) for i in range(8)],
        "vec_id: bigint, embedding: array<float>",
    )
    m = IVFCosineTopK(k=2, n_probe=1, centroids=[[1.0, 0.0]])
    with pytest.raises(Exception, match="different embedding space"):
        m.map(df).collect()


def test_dedup_incremental_tolerates_nested_map_columns(spark):
    """r8 review: the content tiebreak must skip map-containing
    columns at ANY nesting depth (xxhash64 rejects them recursively)
    — a struct<map> payload column must not break the call."""
    from smashed_spark.functions.dedup import dedup_incremental

    df = spark.createDataFrame(
        [
            (1, "aaa bbb", {"m": {"k": "v"}}),
            (2, "ccc ddd", {"m": {"k2": "v2"}}),
        ],
        "doc_id: bigint, text: string, "
        "meta: struct<m: map<string,string>>",
    )
    empty = spark.createDataFrame([], "digest: string")
    got = sorted(
        r.doc_id for r in dedup_incremental(df, empty).collect()
    )
    assert got == [1, 2]


def _np_unit(rows):
    import numpy as np

    m = np.array(rows, dtype=np.float64)
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def test_dedup_incremental_semantic_replay(spark, tmp_path):
    """r9: the semantic analog of dedup_incremental / _fuzzy — history
    drop iff cosine >= threshold to any indexed vector in the SAME
    cell; greedy first-wins batch dedup with the fuzzy path's
    conservative over-drop convention.  Full python replay oracle,
    partition invariance, idempotent ingestion, cell-partitioned
    pruning plan-spy, NULL/duplicate key raises, cell-cap raise."""
    import random

    import numpy as np

    from smashed_spark.functions.dedup import (
        dedup_incremental_semantic,
        with_semantic_cells,
    )
    from smashed_spark.functions.similarity import fit_ivf_index

    rng = np.random.RandomState(17)
    dims = 16
    # two well-separated blobs so the quantizer forms clean cells
    blob_a = rng.normal(0, 0.05, (40, dims)) + np.eye(dims)[0] * 3
    blob_b = rng.normal(0, 0.05, (40, dims)) + np.eye(dims)[1] * 3
    vecs = np.vstack([blob_a, blob_b])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    df = spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>"
    )
    cents = fit_ivf_index(df, n_centroids=2, seed=3, max_iter=5)

    history = df.filter(F.col("vec_id") % 4 == 0)
    batch = df.filter(F.col("vec_id") % 4 != 0)
    # cell-partitioned state, the documented layout
    state = str(tmp_path / "sem")
    with_semantic_cells(history, cents).write.partitionBy(
        "cell"
    ).parquet(state)
    seen = spark.read.parquet(state)

    thr = 0.9992  # inside-blob sims are ~0.999+; cross-blob ~0
    kept = dedup_incremental_semantic(
        batch, seen, cents, order_by="vec_id", threshold=thr
    )
    kept_ids = sorted(r.vec_id for r in kept.collect())

    # ---- python replay of the documented contract ------------------
    cmat = _np_unit(cents)
    unit = _np_unit(vecs)
    cell = np.argmax(unit @ cmat.T, axis=1)
    hist_ids = [i for i in range(80) if i % 4 == 0]
    batch_ids = [i for i in range(80) if i % 4 != 0]
    want = []
    for b in batch_ids:  # ascending == first-wins order
        sims_h = [
            float(unit[b] @ unit[h])
            for h in hist_ids
            if cell[h] == cell[b]
        ]
        if sims_h and max(sims_h) >= thr:
            continue
        if any(
            cell[a] == cell[b] and float(unit[b] @ unit[a]) >= thr
            for a in batch_ids
            if a < b
        ):
            continue
        want.append(b)
    assert kept_ids == want and 0 < len(want) < len(batch_ids)

    # partition invariance
    kept2 = sorted(
        r.vec_id
        for r in dedup_incremental_semantic(
            batch.repartition(7), seen, cents,
            order_by="vec_id", threshold=thr,
        ).collect()
    )
    assert kept2 == kept_ids

    # idempotent ingestion: extend the index with the survivors and
    # replay them — every one drops (cosine 1.0 to itself)
    ext = with_semantic_cells(kept, cents)
    seen_ext = seen.unionByName(ext)
    assert dedup_incremental_semantic(
        kept, seen_ext, cents, order_by="vec_id", threshold=thr
    ).count() == 0

    # plan-spy: the history read is partition-pruned to touched cells
    plan = kept._sc._jvm.PythonSQLUtils.explainString(
        kept._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    import re as _re

    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell" in pf and pf.strip(), plan

    # NULL key raises in-plan
    withnull = spark.createDataFrame(
        [(None, rows[1][1]), (2, rows[2][1])],
        "vec_id: bigint, embedding: array<double>",
    )
    with pytest.raises(Exception, match="NULL"):
        dedup_incremental_semantic(
            withnull, seen, cents, order_by="vec_id"
        ).collect()

    # duplicate key raises (two DISTINCT vectors sharing an id, in
    # different cells — invisible to any per-cell check)
    dup = spark.createDataFrame(
        [(1, rows[0][1]), (1, rows[79][1])],
        "vec_id: bigint, embedding: array<double>",
    )
    with pytest.raises(Exception, match="not unique"):
        dedup_incremental_semantic(
            dup, seen, cents, order_by="vec_id"
        ).collect()

    # degenerate-quantizer fail-fast
    with pytest.raises(Exception, match="max_cell_size"):
        dedup_incremental_semantic(
            batch, seen, cents, order_by="vec_id", max_cell_size=3
        ).collect()
