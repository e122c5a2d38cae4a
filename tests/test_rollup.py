"""Hypertable-style rollups (functions/rollup.py): python replays for
the mergeable stats and KMV registers, merge/cascade algebra,
incremental state with exactly-once compaction (incl. simulated crash
windows), and the plan-shape contracts."""

import hashlib
import shutil
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from smashed_spark.functions.rollup import (
    RollupSpec,
    compact_rollup_state,
    read_rollup,
    rollup_cascade,
    rollup_estimates,
    rollup_events,
    rollup_ingest_batch,
    rollup_merge,
    rollup_to_granularity,
)
from smashed_spark.functions.sketches import KMVSketch

SCHEMA = "ts timestamp, event_type string, value double, user_id bigint"


def _h60(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def _rows():
    out = []
    for i in range(200):
        out.append(
            (
                datetime(2024, 1, 1 + (i % 3), i % 5, i % 60, 30),
                ["click", "view", None][i % 3],
                float(i) if i % 7 else None,
                i % 23 if i % 11 else None,
            )
        )
    return out


SPEC = RollupSpec(
    ts_field="ts",
    keys=("event_type",),
    values=("value",),
    distinct=("user_id",),
    k=8,
)


def _replay(rows, trunc, k=8):
    """Driver-side python replay of rollup_events."""
    groups = {}
    for ts, et, v, u in rows:
        key = (trunc(ts), et)
        g = groups.setdefault(key, {"n": 0, "vals": [], "users": set()})
        g["n"] += 1
        if v is not None:
            g["vals"].append(v)
        if u is not None:
            g["users"].add(u)
    out = {}
    for key, g in groups.items():
        vals = g["vals"]
        reg = sorted({_h60(u) for u in g["users"]})[:k]
        out[key] = (
            g["n"],
            sum(vals) if vals else None,
            min(vals) if vals else None,
            max(vals) if vals else None,
            len(vals),
            reg,
        )
    return out


def _hour(ts):
    return ts.replace(minute=0, second=0, microsecond=0)


def _day(ts):
    return ts.replace(hour=0, minute=0, second=0, microsecond=0)


def _collect(df):
    return {
        (r["bucket"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
            r["min_value"],
            r["max_value"],
            r["n_value"],
            list(r["kmv_user_id"]),
        )
        for r in df.collect()
    }


def test_rollup_matches_python_replay(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = _collect(rollup_events(df, SPEC, "hour"))
    want = _replay(_rows(), _hour)
    assert set(got) == set(want)
    for key in want:
        gn, gs, gmn, gmx, gnv, greg = got[key]
        wn, ws, wmn, wmx, wnv, wreg = want[key]
        assert (gn, gmn, gmx, gnv) == (wn, wmn, wmx, wnv), key
        assert gs == pytest.approx(ws) if ws is not None else gs is None
        assert greg == wreg, key  # bit-exact md5-60 registers


def test_null_key_group_keeps_its_register(spark):
    # the r9 trap: a null-UNSAFE join-back would drop the NULL
    # event_type group's register
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = _collect(rollup_events(df, SPEC, "hour"))
    null_groups = [k for k in got if k[1] is None]
    assert null_groups
    assert any(got[k][5] for k in null_groups)


def test_merge_equals_full(spark):
    rows = _rows()
    full = _collect(
        rollup_events(spark.createDataFrame(rows, SCHEMA), SPEC, "hour")
    )
    parts = [
        rollup_events(
            spark.createDataFrame(rows[i::2], SCHEMA), SPEC, "hour"
        )
        for i in range(2)
    ]
    merged = _collect(rollup_merge(parts, SPEC))
    assert set(merged) == set(full)
    for key in full:
        assert merged[key][0] == full[key][0]
        assert merged[key][5] == full[key][5], key  # register merge
        if full[key][1] is not None:
            assert merged[key][1] == pytest.approx(full[key][1])
        assert merged[key][2:5] == full[key][2:5]


def test_cascade_day_equals_from_raw(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    # NOTE the register caveat: day-from-hour keeps the k smallest of
    # each HOUR's k smallest — identical to day-from-raw because the
    # k smallest of a union is a function of each side's k smallest
    by = rollup_cascade(df, ["hour", "day"], SPEC)
    from_raw = _collect(rollup_events(df, SPEC, "day"))
    from_cascade = _collect(by["day"])
    assert set(from_cascade) == set(from_raw)
    for key in from_raw:
        f, c = from_raw[key], from_cascade[key]
        assert (f[0], f[2], f[3], f[4], f[5]) == (c[0], c[2], c[3], c[4], c[5])
        if f[1] is not None:
            assert c[1] == pytest.approx(f[1])


def test_cascade_rejects_non_nesting(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    with pytest.raises(ValueError, match="nest"):
        rollup_cascade(df, ["week", "month"], SPEC)
    hourly = rollup_events(df, SPEC, "hour")
    with pytest.raises(ValueError, match="nest"):
        rollup_to_granularity(hourly, "month", SPEC, finer="week")
    # unvalidated (finer unknown) stays permitted by contract
    rollup_to_granularity(hourly, "day", SPEC)


def test_estimates_bit_match_kmvsketch(spark):
    # 40 distinct users in one bucket saturates k=8 (estimator
    # branch); 3 users in the other stays exact
    rows = [
        (datetime(2024, 1, 1, 0), "a", 1.0, i) for i in range(40)
    ] + [(datetime(2024, 1, 2, 0), "b", None, i % 3) for i in range(9)]
    df = spark.createDataFrame(rows, SCHEMA)
    est = {
        r["event_type"]: r
        for r in rollup_estimates(
            rollup_events(df, SPEC, "day"), SPEC
        ).collect()
    }
    want_sat = KMVSketch(8, [_h60(i) for i in range(40)]).estimate()
    assert est["a"]["distinct_user_id"] == want_sat
    assert est["b"]["distinct_user_id"] == 3  # exact below saturation
    assert est["a"]["avg_value"] == pytest.approx(1.0)
    assert est["b"]["avg_value"] is None  # all-NULL values
    # all-NULL distinct column: empty register, estimate 0
    df2 = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0), "a", 1.0, None)], SCHEMA
    )
    r2 = rollup_estimates(rollup_events(df2, SPEC, "day"), SPEC).collect()
    assert r2[0]["kmv_user_id"] == [] and r2[0]["distinct_user_id"] == 0


def test_estimator_quotient_overflow_guard(spark):
    # adversarial small k-th hash: the decimal product (k-1)*2^60
    # overflows bigint; the integral div must still produce the exact
    # python floor-division answer
    reg = list(range(7)) + [63]
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0), "a", 1.0, 1, reg)],
        SCHEMA + ", kmv_user_id array<bigint>",
    )
    rolled = df.select(
        F.date_trunc("day", "ts").alias("bucket"),
        "event_type",
        F.lit(1).cast("bigint").alias("n_events"),
        F.lit(1.0).alias("sum_value"),
        F.lit(1.0).alias("min_value"),
        F.lit(1.0).alias("max_value"),
        F.lit(1).cast("bigint").alias("n_value"),
        "kmv_user_id",
    )
    got = rollup_estimates(rolled, SPEC).collect()[0]["distinct_user_id"]
    assert got == (7 * (1 << 60)) // 63 == KMVSketch(8, reg).estimate()


def test_incremental_roundtrip(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _rows()
    batches = [rows[0:70], rows[70:140], rows[140:200]]
    for i, b in enumerate(batches):
        rollup_ingest_batch(
            spark, state, spark.createDataFrame(b, SCHEMA), i, SPEC, "hour"
        )
    full = _collect(
        rollup_events(spark.createDataFrame(rows, SCHEMA), SPEC, "hour")
    )

    def assert_matches():
        got = _collect(read_rollup(spark, state, SPEC))
        assert set(got) == set(full)
        for key in full:
            g, w = got[key], full[key]
            assert (g[0], g[2], g[3], g[4], g[5]) == (
                w[0],
                w[2],
                w[3],
                w[4],
                w[5],
            ), key
            if w[1] is not None:
                assert g[1] == pytest.approx(w[1])

    assert_matches()
    # retried batch = pure replay (overwrite-by-batch-id)
    rollup_ingest_batch(
        spark,
        state,
        spark.createDataFrame(batches[1], SCHEMA),
        1,
        SPEC,
        "hour",
    )
    assert_matches()
    # compaction folds all but the newest batch; read unchanged
    compact_rollup_state(spark, state, SPEC)
    root = tmp_path / "state" / "rollup"
    assert (root / "batch=-1").is_dir()
    assert not (root / "batch=0").exists()
    assert (root / "batch=2").is_dir()  # newest stays out
    assert_matches()
    # next batch, next compaction folds the previously-kept batch
    rollup_ingest_batch(
        spark,
        state,
        spark.createDataFrame([], SCHEMA),
        3,
        SPEC,
        "hour",
    )
    compact_rollup_state(spark, state, SPEC)
    assert not (root / "batch=2").exists()
    assert_matches()


def test_compaction_crash_windows(spark, tmp_path, monkeypatch):
    import os

    state = str(tmp_path / "state")
    rows = _rows()
    for i, b in enumerate([rows[0:100], rows[100:160], rows[160:200]]):
        rollup_ingest_batch(
            spark, state, spark.createDataFrame(b, SCHEMA), i, SPEC, "hour"
        )
    full = _collect(
        rollup_events(spark.createDataFrame(rows, SCHEMA), SPEC, "hour")
    )
    root = tmp_path / "state" / "rollup"

    class _Crash(Exception):
        pass

    real_rmtree = shutil.rmtree

    def crash_before_removing_folded(path, *args, **kwargs):
        if os.path.basename(str(path)) == "batch=0":
            raise _Crash
        return real_rmtree(path, *args, **kwargs)

    # the compaction dies right after its swap, before it removes the
    # partitions it folded (0 and 1)
    monkeypatch.setattr(shutil, "rmtree", crash_before_removing_folded)
    with pytest.raises(_Crash):
        compact_rollup_state(spark, state, SPEC)
    monkeypatch.undo()

    def totals():
        got = _collect(read_rollup(spark, state, SPEC))
        return sum(v[0] for v in got.values()), got

    n_full = sum(v[0] for v in full.values())
    # CRASH WINDOW A (rename done, folded partitions not yet deleted):
    # batch 0's and 1's rows are in batch=-1 AND in their partitions
    # — without the manifest this double-counts; with it, reads drop
    # the listed partitions
    assert (root / "batch=-1").is_dir() and (root / "batch=0").is_dir()
    n, got = totals()
    assert n == n_full
    assert got == {k: full[k] for k in full} or set(got) == set(full)
    # the next compaction deletes the leftovers without re-merging
    compact_rollup_state(spark, state, SPEC)
    assert not (root / "batch=0").exists()
    assert not (root / "batch=1").exists()
    assert totals()[0] == n_full
    # CRASH WINDOW B (old batch=-1 removed, staged dir not yet
    # renamed): simulate by moving batch=-1 back to the staging name;
    # the next read must finish the rename (recovery) and match
    shutil.move(str(root / "batch=-1"), str(tmp_path / "state" / "__compact_rollup__"))
    assert totals()[0] == n_full
    assert (root / "batch=-1").is_dir()


def test_streaming_rollup_matches_batch(spark, tmp_path):
    """The continuous-aggregate wrapper: three parquet files drained
    as three micro-batches (maxFilesPerTrigger=1) with in-stream
    compaction at batch 2 must leave state whose merged read equals
    the one-shot batch rollup."""
    from smashed_spark.functions.rollup import streaming_rollup

    rows = _rows()
    src = str(tmp_path / "src")
    for i, sl in enumerate([rows[0:70], rows[70:140], rows[140:200]]):
        spark.createDataFrame(sl, SCHEMA).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    state = str(tmp_path / "state")
    q = streaming_rollup(
        stream,
        state,
        str(tmp_path / "ckpt"),
        SPEC,
        "hour",
        compact_every=2,
    )
    q.awaitTermination(180)
    assert not q.isActive
    root = tmp_path / "state" / "rollup"
    # the in-body compaction at batch 2 folded 0 and 1, kept 2 out
    assert (root / "batch=-1").is_dir()
    assert (root / "batch=2").is_dir()
    assert not (root / "batch=0").exists()
    got = _collect(read_rollup(spark, state, SPEC))
    full = _collect(
        rollup_events(spark.createDataFrame(rows, SCHEMA), SPEC, "hour")
    )
    assert set(got) == set(full)
    for key in full:
        g, w = got[key], full[key]
        assert (g[0], g[2], g[3], g[4], g[5]) == (
            w[0], w[2], w[3], w[4], w[5],
        ), key
        if w[1] is not None:
            assert g[1] == pytest.approx(w[1])
    with pytest.raises(ValueError, match="streaming"):
        streaming_rollup(
            spark.createDataFrame([], SCHEMA), state, str(tmp_path / "c2")
        )


def test_empty_state_and_validation(spark, tmp_path):
    empty = read_rollup(
        spark,
        str(tmp_path / "nope"),
        SPEC,
        key_types={"event_type": "string"},
    )
    assert empty.count() == 0
    assert "kmv_user_id" in empty.columns
    with pytest.raises(ValueError, match="reserved"):
        rollup_ingest_batch(
            spark,
            str(tmp_path / "s"),
            spark.createDataFrame([], SCHEMA),
            -1,
            SPEC,
        )
    with pytest.raises(ValueError, match="k must be"):
        RollupSpec(k=2)
    with pytest.raises(ValueError, match="share columns"):
        RollupSpec(keys=("a",), values=("a",))
    with pytest.raises(ValueError, match="granularity"):
        rollup_events(
            spark.createDataFrame([], SCHEMA), SPEC, "fortnight"
        )
    with pytest.raises(ValueError, match="bucket"):
        rollup_events(
            spark.createDataFrame(
                [], SCHEMA + ", bucket int"
            ),
            SPEC,
        )


def test_plan_shape(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    plain = rollup_events(
        df, RollupSpec(distinct=()), "hour"
    )
    plan = plain._sc._jvm.PythonSQLUtils.explainString(
        plain._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    # the 100 TB contract: ONE corpus-wide exchange (partial HashAgg
    # below it), no joins, no windows
    assert tree.count("Exchange (") == 1, plan
    assert "Join" not in tree and "Window" not in tree, plan
    with_reg = rollup_events(df, SPEC, "hour")
    plan2 = with_reg._sc._jvm.PythonSQLUtils.explainString(
        with_reg._jdf.queryExecution(), "formatted"
    )
    tree2 = plan2.split("\n\n")[0]
    # register side: the per-group top-k must ride WindowGroupLimit
    # (partial below + final above its exchange)
    assert tree2.count("WindowGroupLimit (") == 2, plan2
    # union-merge, never a (null-safe) join
    assert "Join" not in tree2, plan2
    # bounded exchange budget: main agg + slim distinct + window key
    # + one rollup-sized final merge
    assert tree2.count("Exchange (") <= 4, plan2
