"""Property-style randomized tests: the Column-expression
implementations must agree with direct pure-Python ports of the
reference algorithms on hundreds of seeded-random inputs.

(Each property batches all its examples through ONE DataFrame — Spark
job startup would dominate a per-example hypothesis loop.)
"""

from math import floor

from smashed_spark.operators.masks import MaskToRangeMapper, RangeToMaskMapper
from smashed_spark.operators.prompting import TruncateMultipleFieldsMapper

# -- pure-Python ports of the reference allocation algorithms
# (reference prompting.py:217-275) used as the property oracle --------------


def _uniform(lens, max_len):
    total = sum(lens)
    if total <= max_len:
        return list(lens)
    return [floor(l * max_len / total) for l in lens]


def _longest(lens, max_len):
    if sum(lens) <= max_len:
        return list(lens)
    k = len(lens)
    target = max_len // k
    longer = [l - target if l > target else 0 for l in lens]
    extra = max_len - target * k + sum(target - l for l in lens if l < target)
    redis = _uniform(longer, extra)
    return [
        target + r if l > target else l for l, r in zip(lens, redis)
    ]


def test_truncation_matches_reference_algorithm(spark):
    import random

    rng = random.Random(42)
    # few distinct budgets: budget is mapper config, so each distinct
    # value costs one Spark job per strategy
    budgets = [3, 5, 10, 20, 35, 80]
    cases = [
        ([rng.randint(0, 40) for _ in range(3)], rng.choice(budgets))
        for _ in range(200)
    ]
    # group cases by max_len since it is mapper config, not data
    by_max = {}
    for lens, max_len in cases:
        by_max.setdefault(max_len, []).append(lens)
    for strategy, py_algo in (("uniform", _uniform), ("longest", _longest)):
        for max_len, lens_list in by_max.items():
            rows = [
                tuple(list(range(n)) for n in lens) for lens in lens_list
            ]
            df = spark.createDataFrame(
                rows, "a: array<bigint>, b: array<bigint>, c: array<bigint>"
            )
            out = (
                TruncateMultipleFieldsMapper(
                    ["a", "b", "c"], max_length=max_len, strategy=strategy
                )
                .map(df)
                .collect()
            )
            for lens, row in zip(lens_list, out):
                got = [len(row.a), len(row.b), len(row.c)]
                want = [max(n, 0) for n in py_algo(lens, max_len)]
                assert got == want, (strategy, lens, max_len, got, want)


def test_mask_range_roundtrip_property(spark):
    import random

    rng = random.Random(7)
    rows = []
    for _ in range(200):
        n = rng.randint(1, 20)
        mask = [rng.choice([0, 1]) for _ in range(n)]
        rows.append((mask,))
    df = spark.createDataFrame(rows, "m: array<bigint>")
    pipe = MaskToRangeMapper("m", "r")
    ranged = pipe.map(df).collect()
    # reconstruct the mask from the ranges and compare
    back_rows = [(r.m, r.r) for r in ranged]
    df2 = spark.createDataFrame(
        back_rows, "m: array<bigint>, r: array<array<bigint>>"
    )
    out = RangeToMaskMapper("m2", "m", "r").map(df2).collect()
    for row in out:
        assert row.m2 == row.m, (row.m, row.r, row.m2)


def test_ngram_jaccard_methods_agree_on_random_corpora(spark):
    """The join and prefix plans must both produce the pair set of a
    pure-Python brute-force Jaccard — including under a binding
    frequency cap — on seeded-random corpora.  Each plan is reached by
    setting the probe's skew threshold (0 routes to prefix, inf to
    join)."""
    import random
    from collections import Counter

    import pytest
    from pyspark.sql import functions as F

    from smashed_spark.functions.dedup import NGramJaccardPairsMapper

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    bases = [
        [rng.choice(vocab) for _ in range(rng.randint(12, 40))]
        for _ in range(12)
    ]
    rows = []
    for i in range(120):
        w = list(rng.choice(bases))
        for _ in range(rng.randint(0, 4)):  # small mutations -> real pairs
            w[rng.randrange(len(w))] = rng.choice(vocab)
        rows.append((i, " ".join(w)))
    rows += [(200 + i, "") for i in range(3)]  # empty docs
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string").withColumn(
        "words", F.split("text", " ")
    )

    def brute(threshold, max_shingle_freq, n=3):
        # distinct word 3-grams per doc ("".split(" ") is [""]: too
        # short for a shingle).  Hub shingles over the cap leave the
        # intersection but not the set sizes, as in the operator
        sets = {}
        for doc_id, text in rows:
            w = text.split(" ")
            sets[doc_id] = {
                " ".join(w[k:k + n]) for k in range(len(w) - n + 1)
            }
        freq = Counter(s for sh in sets.values() for s in sh)
        out = {}
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = sum(
                    1
                    for s in sets[a] & sets[b]
                    if max_shingle_freq is None or freq[s] <= max_shingle_freq
                )
                if inter:
                    jac = inter / (len(sets[a]) + len(sets[b]) - inter)
                    if round(jac, 6) >= threshold:
                        out[(a, b)] = jac
        return out

    for cap in (None, 8):
        kw = dict(threshold=0.15, max_shingle_freq=cap)
        want = brute(**kw)
        if cap == 8:
            assert want, "cap test corpus produced no pairs at all"
        for plan, skew in (("join", float("inf")), ("prefix", 0.0)):
            m = NGramJaccardPairsMapper("doc_id", **kw)
            m.AUTO_SKEW_THRESHOLD = skew
            got = {(r.id_a, r.id_b): r.jaccard for r in m.map(df).collect()}
            assert m.resolved_method == plan
            assert got.keys() == want.keys(), (cap, plan)
            for pair, jac in want.items():
                assert got[pair] == pytest.approx(jac, abs=1e-6), pair


def test_pii_redaction_is_idempotent(spark):
    """Redacting already-redacted text must be a no-op (replacement
    tokens never re-match any pattern)."""
    import random

    from smashed_spark.functions.textstats import PiiRedactMapper

    rng = random.Random(11)
    bits = [
        "a@b.co", "x.y+z@mail.example.org", "+44-123-456-7890",
        "555 123 4567", "10.0.0.1", "plain words", "dots.and.dashes-",
        "@", "1.2.3", "<EMAIL>",
    ]
    rows = [
        (i, " ".join(rng.choice(bits) for _ in range(rng.randint(1, 8))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id: bigint, text: string")
    once = PiiRedactMapper("text", count_prefix=None).map(df)
    twice = PiiRedactMapper("text", count_prefix=None).map(once)
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_hyperplane_buckets_match_expression_signatures(spark):
    """The vectorized (BLAS matmul) bucket computation must equal the
    per-plane Catalyst fold it replaced, plane by plane."""
    import random

    from pyspark.sql import functions as F

    from smashed_spark.functions.similarity import (
        hyperplane_buckets,
        hyperplane_signature,
    )

    rng = random.Random(3)
    dims, tables, bits = 16, 3, 5
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id: bigint, v: array<double>")
    out = df.select(
        "id",
        hyperplane_buckets(F.col("v"), tables, bits, dims).alias("fast"),
        F.array(
            *[
                hyperplane_signature(F.col("v"), t, bits, dims)
                for t in range(tables)
            ]
        ).alias("ref"),
    )
    for r in out.collect():
        assert list(r.fast) == list(r.ref), r.id


def test_basic_tokenize_regex_fast_path_matches_char_loop():
    """The ASCII regex fast path must produce exactly the per-char
    loop's output (tokens AND offsets) — force the loop by appending a
    non-ASCII char, then compare on the shared prefix input."""
    import random
    import string

    from smashed_spark.functions.wordpiece import basic_tokenize

    rng = random.Random(13)
    alphabet = string.ascii_letters + string.digits + string.punctuation + "  \t"
    for _ in range(300):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        fast = basic_tokenize(s)
        # appending a non-ASCII char forces the slow path; the final
        # token is the appended char itself (or merges with a trailing
        # word), so compare after re-tokenizing the original via slow
        # path semantics: strip the sentinel word's effect by using a
        # separator
        slow = basic_tokenize(s + " é")[:-1]
        assert fast == slow, (s, fast, slow)
        fast_nc = basic_tokenize(s, lowercase=False)
        slow_nc = basic_tokenize(s + " é", lowercase=False)[:-1]
        assert fast_nc == slow_nc, (s, fast_nc, slow_nc)


def test_packing_stream_reconstruction_property(spark):
    """For random corpora and block sizes: (1) concatenating the
    blocks in block_id order reproduces the document token stream in
    key order (+ separators), (2) every block except the last holds
    exactly block_size tokens, (3) token totals conserve."""
    import random

    from pyspark.sql import functions as F

    from smashed_spark.functions.packing import PackSequencesMapper

    rng = random.Random(31)
    for case in range(4):
        bs = rng.choice([1, 5, 16, 64])
        sep = rng.choice([None, -1])
        tl = [
            [rng.randrange(100) for _ in range(rng.randrange(0, 30))]
            for _ in range(rng.randrange(1, 60))
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(tl)],
            "doc_id: bigint, input_ids: array<bigint>",
        ).repartition(5)
        out = (
            PackSequencesMapper(block_size=bs, separator=sep)
            .map(df)
            .orderBy("block_id")
            .collect()
        )
        stream = []
        for t in tl:
            stream.extend(list(t) + ([sep] if sep is not None else []))
        got = [tok for r in out for tok in r.tokens]
        assert got == stream, (case, bs, sep)
        for r in out[:-1]:
            assert r.n_tokens == bs, (case, r)
        assert [r.block_id for r in out] == list(range(len(out)))


def test_quota_and_split_partition_properties(spark):
    """quota_sample output is a subset with every group capped; the
    kept subset is invariant to input partitioning.  hash_split is a
    partition of the input: every row assigned exactly one split."""
    import random

    from smashed_spark.sources.loaders import hash_split, quota_sample

    rng = random.Random(17)
    rows = [
        (i, f"g{rng.randrange(7)}") for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "id: bigint, grp: string")
    for cap in (1, 3, 40):
        kept = quota_sample(df, ["grp"], cap, "id").collect()
        by_grp = {}
        for r in kept:
            by_grp.setdefault(r.grp, set()).add(r.id)
        all_groups = {g for _, g in rows}
        src = {g: {i for i, gg in rows if gg == g} for g in all_groups}
        for g, ids in by_grp.items():
            assert ids <= src[g]
            assert len(ids) == min(cap, len(src[g]))
        kept2 = {
            r.id
            for r in quota_sample(
                df.repartition(11), ["grp"], cap, "id"
            ).collect()
        }
        assert kept2 == {r.id for r in kept}

    out = hash_split(
        df, {"a": 0.3, "b": 0.3, "c": 0.4}, "id", seed=5
    ).collect()
    assert len(out) == len(rows)
    assert {r.id for r in out} == {i for i, _ in rows}
    assert {r.split for r in out} <= {"a", "b", "c"}


def test_incremental_fuzzy_dedup_invariants(spark):
    """Random corpora, random index slices: (a) the result is a SUBSET
    of the batch with original columns; (b) no survivor shares ANY
    band key with the index; (c) no two survivors share a band key;
    (d) the survivor set is the greedy driver replay exactly; (e)
    re-running the survivors against index+their own bands drops all
    of them (idempotent ingestion)."""
    import random

    from pyspark.sql import functions as F

    from smashed_spark.functions.dedup import (
        MinHashMapper,
        dedup_incremental_fuzzy,
        with_minhash_bands,
    )
    from smashed_spark.functions.hashing import band_keys

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(60)]
    bases = [
        [rng.choice(vocab) for _ in range(rng.randint(10, 30))]
        for _ in range(8)
    ]
    rows = []
    for i in range(80):
        w = list(rng.choice(bases))
        for _ in range(rng.randint(0, 3)):
            w[rng.randrange(len(w))] = rng.choice(vocab)
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(
        rows, "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    history = docs.filter(F.col("doc_id") % 4 == 0)
    batch = docs.filter(F.col("doc_id") % 4 != 0)
    index = with_minhash_bands(history)

    kept = dedup_incremental_fuzzy(batch, index)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert kept_ids <= batch_ids  # (a)

    # driver replay of the documented greedy contract (d)
    def bands_of(df):
        out = {}
        sig = MinHashMapper().map(df)
        for r in sig.select(
            "doc_id",
            F.explode(band_keys(F.col("minhash"), 4, 4)).alias("bk"),
        ).select("doc_id", "bk.band", "bk.key").collect():
            out.setdefault(r.doc_id, set()).add((r.band, r.key))
        return out

    hist_bands = set().union(*bands_of(history).values())
    bb = bands_of(batch)
    fresh = {d for d, ks in bb.items() if not (ks & hist_bands)}
    mins = {}
    for d in fresh:
        for k in bb[d]:
            mins[k] = min(mins.get(k, d), d)
    want = {d for d in fresh if all(mins[k] == d for k in bb[d])}
    assert kept_ids == want

    # (b) + (c)
    for d in kept_ids:
        assert not (bb[d] & hist_bands), d
    for a in kept_ids:
        for b in kept_ids:
            if a < b:
                assert not (bb[a] & bb[b]), (a, b)

    # (e) idempotent: extend the index with the survivors' bands and
    # replay the survivors — everything drops
    index2 = index.unionByName(
        with_minhash_bands(kept.drop("words", "text"))
    ).distinct()
    assert dedup_incremental_fuzzy(kept.drop("minhash"), index2).count() == 0


def test_broadcast_probe_mode_parity_property(spark):
    """Random corpora, random index slices, DUPLICATED index rows:
    the broadcast-probe mode (index scanned, batch keys broadcast into
    a probe — the streaming-ingest default) must produce exactly the
    plain mode's survivors on BOTH incremental operators, and both
    modes must tolerate duplicate index rows unchanged."""
    import random

    from pyspark.sql import functions as F

    from smashed_spark.functions.dedup import (
        dedup_incremental,
        dedup_incremental_fuzzy,
        with_digests,
        with_minhash_bands,
    )

    rng = random.Random(91)
    vocab = [f"w{i}" for i in range(50)]
    bases = [
        [rng.choice(vocab) for _ in range(rng.randint(10, 25))]
        for _ in range(10)
    ]
    rows = []
    for i in range(90):
        w = list(rng.choice(bases))
        for _ in range(rng.randint(0, 2)):
            w[rng.randrange(len(w))] = rng.choice(vocab)
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(
        rows, "doc_id: bigint, text: string"
    ).withColumn("words", F.split("text", " "))
    history = docs.filter(F.col("doc_id") % 5 == 0)
    batch = docs.filter(F.col("doc_id") % 5 != 0)

    dig = with_digests(history)
    bandix = with_minhash_bands(history)
    # crash-shaped duplicates: every index row twice + a few thrice
    dig_dup = dig.unionByName(dig).unionByName(dig.limit(3))
    band_dup = bandix.unionByName(bandix).unionByName(bandix.limit(5))

    for idx in (dig, dig_dup):
        plain = sorted(
            r.doc_id
            for r in dedup_incremental(
                batch, idx, broadcast_probe=False
            ).collect()
        )
        probed = sorted(
            r.doc_id
            for r in dedup_incremental(
                batch, idx, broadcast_probe=True
            ).collect()
        )
        assert plain == probed and len(plain) > 0

    for idx in (bandix, band_dup):
        plain = sorted(
            r.doc_id
            for r in dedup_incremental_fuzzy(
                batch, idx, broadcast_probe=False
            ).collect()
        )
        probed = sorted(
            r.doc_id
            for r in dedup_incremental_fuzzy(
                batch, idx, broadcast_probe=True
            ).collect()
        )
        assert plain == probed and len(plain) > 0


def test_calibrate_exact_property_multikey(spark):
    """Property sweep for the exact calibration tier, batched through
    ONE DataFrame (the file's convention): 60 random (case, grp)
    score sets, multi-column grouping keys (not covered by the unit
    tests), ties, negatives, and a NULL mix — thresholds must equal
    the pure-python k-th-largest oracle for every group."""
    import math
    import random

    from smashed_spark.functions.calibrate import calibrate_thresholds

    rng = random.Random(41)
    rows, want = [], {}
    retain = 0.35
    for case in range(60):
        grp = f"g{case % 7}"
        n = rng.randrange(1, 12)
        scores = [
            round(rng.uniform(-5, 5), 2) if rng.random() > 0.15 else None
            for _ in range(n)
        ]
        # force ties sometimes
        if n >= 3 and rng.random() < 0.4:
            scores[1] = scores[0]
        rows += [(case, grp, s) for s in scores]
        real = sorted(
            (s for s in scores if s is not None), reverse=True
        )
        if real:
            k = max(1, math.ceil(retain * len(real) - 1e-9))
            want[(case, grp)] = real[k - 1]
        else:
            want[(case, grp)] = None
    df = spark.createDataFrame(rows, "case int, grp string, score double")
    got = {
        (r["case"], r["grp"]): r["threshold"]
        for r in calibrate_thresholds(
            df, "score", retain, by=["case", "grp"], exact=True
        ).collect()
    }
    assert got == want
