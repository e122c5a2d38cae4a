"""Bloom membership sketch (functions/bloom.py): bit-level python +
DuckDB replays of the md5/Kirsch-Mitzenmacher positions, the
no-false-negative contract, fit determinism, merge algebra and the
save/load roundtrip."""

import hashlib
import math

import pytest

from smashed_spark.functions.bloom import (
    BloomFilterSketch,
    fit_bloom,
    load_bloom,
    optimal_bloom_params,
    with_bloom_flag,
)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _py_positions(val: str, num_bits: int, num_hashes: int, salt: int):
    dig = hashlib.md5(f"{val}:bloom:{salt}".encode()).hexdigest()
    h1 = int(dig[:8], 16)
    h2 = int(dig[8:16], 16) | 1
    return [(h1 + i * h2) % num_bits for i in range(num_hashes)]


def _py_contains(sketch, val):
    for p in _py_positions(
        val, sketch.num_bits, sketch.num_hashes, sketch.salt
    ):
        if not (int(sketch.words[p >> 6]) >> (p & 63)) & 1:
            return False
    return True


BITS, HASHES = 1 << 12, 4  # 4096 bits for ~200 keys: low saturation


def _keys(n, prefix="k"):
    return [f"{prefix}{i}" for i in range(n)]


def test_fit_matches_python_replay_bit_for_bit(spark):
    keys = _keys(200)
    df = spark.createDataFrame([(k,) for k in keys], "digest string")
    sk = fit_bloom(df, "digest", BITS, HASHES, salt=7)
    import numpy as np

    want = np.zeros(BITS // 64, dtype=np.uint64)
    for k in keys:
        for p in _py_positions(k, BITS, HASHES, 7):
            want[p >> 6] |= np.uint64(1) << np.uint64(p & 63)
    assert (sk.words == want).all()
    # partition invariance: OR is commutative, positions pure md5
    sk2 = fit_bloom(df.repartition(13), "digest", BITS, HASHES, salt=7)
    assert (sk2.words == sk.words).all()


def test_no_false_negatives_and_bounded_fpr(spark):
    keys = _keys(200)
    df = spark.createDataFrame([(k,) for k in keys], "digest string")
    sk = fit_bloom(df, "digest", BITS, HASHES)
    probe = spark.createDataFrame(
        [(k,) for k in keys + _keys(2000, "other")], "digest string"
    )
    got = {
        r["digest"]: r["maybe_seen"]
        for r in with_bloom_flag(probe, "digest", sk).collect()
    }
    # every fitted key MUST test positive
    assert all(got[k] for k in keys)
    # disjoint keys: FPR near the analytic saturation^k estimate
    fp = sum(1 for k in _keys(2000, "other") if got[k])
    est = sk.saturation ** sk.num_hashes
    assert fp / 2000 < max(4 * est, 0.02), (fp, est, sk.saturation)
    # and the flag replays in python bit-for-bit
    for k in list(got)[:300]:
        assert got[k] == _py_contains(sk, k), k


def test_positions_replay_in_duckdb(spark):
    """The SQL-portability claim: DuckDB computes the same positions
    from the same md5 arithmetic."""
    import duckdb

    keys = _keys(50)
    sk_salt = 3
    rows = duckdb.connect().execute(
        f"""
        SELECT k, list_transform(range(0, {HASHES}), i ->
            (('0x' || substr(md5(k || ':bloom:{sk_salt}'), 1, 8))::BIGINT
             + i * (('0x' || substr(md5(k || ':bloom:{sk_salt}'), 9, 8))
                        ::BIGINT | 1)) % {BITS})
        FROM (SELECT unnest(?) AS k)
        """,
        [keys],
    ).fetchall()
    for k, pos in rows:
        assert list(pos) == _py_positions(k, BITS, HASHES, sk_salt), k


def test_null_flag_and_flag_plan_is_narrow(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",)], "digest string"
    )
    sk = fit_bloom(df, "digest", BITS, HASHES)
    out = with_bloom_flag(df, "digest", sk)
    rows = {r["digest"]: r["maybe_seen"] for r in out.collect()}
    assert rows[None] is None
    assert rows["a"] is True and rows["b"] is True
    plan = _explain(out)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
    # an existing column must not be silently replaced
    import pytest

    with pytest.raises(ValueError, match="already exists"):
        with_bloom_flag(out, "digest", sk)


def test_merge_equals_fit_on_union_and_rejects_mismatch(spark):
    a = spark.createDataFrame([(k,) for k in _keys(50, "a")], "d string")
    b = spark.createDataFrame([(k,) for k in _keys(50, "b")], "d string")
    sa = fit_bloom(a, "d", BITS, HASHES, salt=1)
    sb = fit_bloom(b, "d", BITS, HASHES, salt=1)
    merged = sa.merge(sb)
    union = fit_bloom(a.unionByName(b), "d", BITS, HASHES, salt=1)
    assert (merged.words == union.words).all()
    with pytest.raises(ValueError, match="different"):
        sa.merge(fit_bloom(b, "d", BITS, HASHES, salt=2))
    with pytest.raises(ValueError, match="different"):
        sa.merge(fit_bloom(b, "d", BITS * 2, HASHES, salt=1))


def test_save_load_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(k,) for k in _keys(80)], "d string")
    sk = fit_bloom(df, "d", BITS, HASHES, salt=9)
    sk.save(str(tmp_path / "bloom"))
    back = load_bloom(str(tmp_path / "bloom"))
    assert (back.words == sk.words).all()
    assert (back.num_bits, back.num_hashes, back.salt) == (
        sk.num_bits, sk.num_hashes, sk.salt,
    )


def test_optimal_params_formula_and_validation():
    m, k = optimal_bloom_params(1_000_000, 0.01)
    want_m = -1_000_000 * math.log(0.01) / math.log(2) ** 2
    assert abs(m - want_m) < 64 + 1
    assert k == round(m / 1_000_000 * math.log(2))
    # cap: huge n clamps m and re-derives k for the clamped m
    m2, k2 = optimal_bloom_params(10**12, 0.01)
    assert m2 == 1 << 30 and k2 == 1
    with pytest.raises(ValueError, match="fpp"):
        optimal_bloom_params(10, 1.5)
    with pytest.raises(ValueError, match="num_bits"):
        fit_bloom(None, "d", 100)  # not a word multiple
    with pytest.raises(ValueError, match="num_hashes"):
        fit_bloom(None, "d", 128, num_hashes=0)
