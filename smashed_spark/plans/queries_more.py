"""Round-2/3 gate queries: oracle coverage for operators the core file
doesn't reach — encode/decode, located striding, glom paths, a second
TPC-H-shaped join headliner, source/sink round-trips, dataset
combination, and the skew utilities.

Same conventions as queries.py; array outputs are JSON-wrapped on both
sides by the registry / explicit ``to_json`` in the oracle.  Round 3
merged the former single-operator gates (masks, padding, truncate,
prompt, unicode families) into composite pipeline gates in queries.py
so every registered query fits inside the driver's 50-query
certification budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MERSENNE_P, hash_coeffs
from .registry import _bind_gate_dir, _claim_gate_dir, load, query

# Bloom geometry for the sample_mix fold — shared by the gate call and
# the oracle CTEs (the CMS-fold convention) so the two sides can never
# drift; 128 bits over the ~n/10-key history keeps both flag branches
# live at gate SF
_BLOOM_BITS = 128
_BLOOM_HASHES = 2

# MinHash oracle slots generated from the SAME coefficient list the
# Spark operator uses (functions/hashing.py) — byte-identical
# signatures in both engines (the queries_scale.py convention)
_MINHASH_SLOTS = ",\n               ".join(
    f"coalesce(list_min(list_transform(hs, "
    f"h -> ({a} * h + {b}) % {MERSENNE_P})), {MERSENNE_P})"
    for a, b in hash_coeffs(16)
)


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").withColumn(
        "words", F.split(F.col("text"), " ")
    )


# ---------------------------------------------------------------------------
# encode / decode round trip (reference prompting.py:36-148, decoding.py)
# ---------------------------------------------------------------------------


@query(
    "encode_decode",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    SELECT doc_id,
           to_json(list_transform(words,
               t -> CASE WHEN t = 'a' THEN CAST(8 AS BIGINT)
                         WHEN t = 'the' THEN 15 ELSE 1 END)) AS ids,
           array_to_string(list_transform(words,
               t -> CASE WHEN t = 'a' THEN 'a' WHEN t = 'the' THEN 'the'
                    ELSE '[UNK]' END), ' ') AS decoded
    FROM w
    """,
)
def q_encode_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EncodeFieldsMapper (no special tokens) then DecodingMapper on a
    copy: the tiny-vocab corpus maps every word to one piece, so both
    directions have exact oracles."""
    from ..functions.wordpiece import tiny_bert_tokenizer
    from ..operators.hf_tokenize import DecodingMapper, EncodeFieldsMapper

    from ..core.parallel import ensure_min_parallelism

    tok = tiny_bert_tokenizer(model_max_length=4096)
    # r16 opt: widen the one-task scan before the encode/decode
    # expression trees run twice per row (guide §2.5).  r17 (VERDICT
    # item 3): size-capped at 64 KB of scan bytes per task — the
    # encode/decode expression trees are cheap enough that 32
    # micro-tasks of ~160 rows cost more in scheduling than they buy
    # (min-of-7: 1.06 s full width -> 0.73 s capped; the r16 scaling
    # block read 0.70 at 8-vs-32 cores for the same reason).  At the
    # design point the scan is already wide and the helper is identity.
    df = ensure_min_parallelism(
        load(spark, sf_dir, "documents").select(
            "doc_id",
            F.col("text").alias("ids"),
            F.col("text").alias("decoded"),
        ),
        bytes_per_task=65536,
    )
    pipe = EncodeFieldsMapper(["ids", "decoded"], tok) >> DecodingMapper(
        tok, fields=["decoded"]
    )
    return pipe.map(df).select("doc_id", "ids", "decoded")


# ---------------------------------------------------------------------------
# located striding (reference shape.py:250-294)
# ---------------------------------------------------------------------------


@query(
    "strider_locations",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    s AS (
        SELECT doc_id, words,
               CASE WHEN len(words) < 5 THEN [0]
                    ELSE range(0, len(words) - 4, 5) END AS starts
        FROM w
    ), x AS (
        SELECT doc_id, list_slice(words, st + 1, st + 5) AS win, st
        FROM s, UNNEST(starts) AS t(st)
    )
    SELECT doc_id, to_json(win) AS win,
           CASE WHEN (st <= 3 AND 3 < st + len(win))
                  OR (st < 6 AND 6 <= st + len(win))
                THEN 'keep' ELSE 'drop' END AS tag
    FROM x
    """,
)
def q_strider_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SingleSequenceStriderMapperWithLocations: windows overlapping the
    [3, 6) span keep their tag, others get the replacement.  With
    stride == max_length the window's token range is [st, st+len)."""
    from ..operators.shape import SingleSequenceStriderMapperWithLocations

    from ..core.parallel import ensure_min_parallelism

    # r16 opt: widen the one-task scan before the window explode +
    # overlap tagging (guide §2.5); per-doc outputs, order-independent.
    # r17: a 64 KB/task size cap was probed and was FLAT here (0.44 ->
    # 0.46 min-of-7) — full width stands; don't re-try.
    df = ensure_min_parallelism(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    ).withColumn("words", F.split(F.col("text"), " ")).select(
        "doc_id",
        "words",
        F.array(
            F.array(F.lit(3).cast("bigint"), F.lit(6).cast("bigint"))
        ).alias("locs"),
        F.lit("keep").alias("tag"),
    )
    out = SingleSequenceStriderMapperWithLocations(
        field_to_stride="words",
        max_length=5,
        field_with_locations="locs",
        fields_replacement_map={"tag": "drop"},
    ).map(df)
    return out.select("doc_id", F.col("words").alias("win"), "tag")


# ---------------------------------------------------------------------------
# glom path extraction (reference glom.py:51-71)
# ---------------------------------------------------------------------------


@query(
    "streaming_ingest_dedup",
    oracle="""
    WITH b0 AS (
        SELECT 0 AS batch, doc_id, text FROM documents
        WHERE doc_id % 3 = 0
    ), b1 AS (
        SELECT 1 AS batch, doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 3 = 1
        UNION ALL
        -- reposts of half of batch 0's content (history drops)
        SELECT 1, doc_id + 2000000, text FROM documents
        WHERE doc_id % 6 = 0
    ), b2 AS (
        SELECT 2 AS batch, doc_id + 3000000 AS doc_id, text
        FROM documents WHERE doc_id % 3 = 2
        UNION ALL
        -- reposts of batch-1 content, read against the COMPACTED index
        SELECT 2, doc_id + 4000000, text FROM documents
        WHERE doc_id % 6 = 1
    ), allb AS (
        SELECT * FROM b0 UNION ALL SELECT * FROM b1
        UNION ALL SELECT * FROM b2
    )
    SELECT CAST(batch AS BIGINT) AS batch, doc_id FROM (
        SELECT batch, doc_id, ROW_NUMBER() OVER (
            PARTITION BY md5(text) ORDER BY batch, doc_id) AS rn
        FROM allb
    ) WHERE rn = 1
    """,
)
def q_streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-ingest composition (streaming/ingest.py) gated
    end-to-end on its EXACT path: three document micro-batches — with
    deterministic cross-batch reposts — scrubbed sequentially by
    ``ingest_dedup_batch`` against the persistent parquet digest
    index, with a ``compact_ingest_state`` between batches 1 and 2 so
    batch 2 reads through the r9 tail-union path (compacted
    ``batch=-1`` unioned AS-IS + distinct over the un-compacted tail).
    Sequential semantics = global first-wins per content digest by
    (batch, doc_id), which is exactly what the oracle replays
    (ROW_NUMBER over md5(text)).  The fuzzy path has its own gate
    since r11 (``streaming_ingest_fuzzy`` — sequential MinHash replay
    incl. band compaction); the foreachBatch wiring, retry exclusion,
    and crash-duplicate tolerance are pinned by
    tests/test_multimodal_streaming.py (rotated into the registry in
    round 9 — ``glom_path`` folded into ``filter_project``)."""
    import shutil
    import tempfile

    from ..streaming.ingest import compact_ingest_state, ingest_dedup_batch

    # r16 scan-widen probe REVERTED: ensure_min_parallelism() here
    # cost 4.2 s -> 7.3 s (same-session A/B, 5 reps) — the exchange
    # recomputes under every batch filter branch and the gate is
    # commit/state-bound, not per-row-compute-bound.  r17 re-probe:
    # widen + in-gate localCheckpoint (the sample_mix fix for the
    # recompute) measured NEUTRAL-to-worse too (min-of-7 4.96 -> 5.48;
    # fuzzy sibling 10.30 -> 10.28) — the eval cost is not scan
    # parallelism.  Don't re-try either form.
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shift = lambda df, k: df.withColumn(  # noqa: E731
        "doc_id", F.col("doc_id") + F.lit(k)
    )
    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        shift(docs.filter(F.col("doc_id") % 3 == 1), 1_000_000)
        .unionByName(shift(docs.filter(F.col("doc_id") % 6 == 0), 2_000_000)),
        shift(docs.filter(F.col("doc_id") % 3 == 2), 3_000_000)
        .unionByName(shift(docs.filter(F.col("doc_id") % 6 == 1), 4_000_000)),
    ]
    root = tempfile.mkdtemp(prefix="smashed_ingest_gate_")
    state, out_dir = root + "/state", root + "/out"
    try:
        for i, b in enumerate(batches):
            ingest_dedup_batch(
                b, state, out_dir, batch_id=i, fuzzy=False
            )
            if i == 1:
                # fold batch 0 into batch=-1; batch 2's index read
                # exercises the tail-union path
                compact_ingest_state(spark, state, fuzzy=False)
        out = (
            spark.read.parquet(out_dir)
            .select(F.col("batch").cast("bigint").alias("batch"), "doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _ingest_fuzzy_oracle() -> str:
    """Sequential SQL replay of the FUZZY ingest path (r10 VERDICT ask
    #4): the sample_mix coefficient-shared MinHash replay applied
    per batch, threading the digest + band indexes through the batch
    sequence exactly like ingest_dedup_batch does — each batch (1)
    anti-joins md5(text) against the digest history then first-wins
    per digest by doc_id, (2) computes the 16-slot MinHash over
    distinct 3-shingles of split(text, ' ') with the operator's
    coefficients, drops docs whose (band, bkey) hits the band history,
    greedy-bands the remainder (per-band min doc_id wins), and (3)
    extends BOTH indexes with its survivors only.  Generated by a
    Python loop because the recurrence is per-batch; the output SQL is
    static."""
    batch_inputs = [
        "SELECT 0 AS batch, doc_id, text FROM documents "
        "WHERE doc_id % 3 = 0",
        # near-reposts (one appended word): invisible to the digest
        # phase, caught (or legitimately missed, for short docs whose
        # extra shingle shifts a band minimum) by the MinHash phase.
        # The %6=0 reposts hit HISTORY (batch 0, read through the
        # compacted band index); the %6=1 reposts near-duplicate docs
        # in the SAME batch (their 1M-shifted originals), so the
        # batch-internal greedy banding adjudicates them
        "SELECT 1 AS batch, doc_id + 1000000 AS doc_id, text "
        "FROM documents WHERE doc_id % 3 = 1 "
        "UNION ALL "
        "SELECT 1, doc_id + 2000000, text || ' repost' FROM documents "
        "WHERE doc_id % 6 = 0 "
        "UNION ALL "
        "SELECT 1, doc_id + 4000000, text || ' repost' FROM documents "
        "WHERE doc_id % 6 = 1",
    ]
    ctes = [
        "dh0 AS (SELECT CAST(NULL AS VARCHAR) AS digest WHERE 1=0)",
        "bh0 AS (SELECT CAST(NULL AS BIGINT) AS b, "
        "CAST(NULL AS VARCHAR) AS bkey WHERE 1=0)",
    ]
    for i, src in enumerate(batch_inputs):
        ctes += [
            f"in{i} AS ({src})",
            # exact phase: history anti-join + first-wins per digest
            f"""k{i} AS (
        SELECT batch, doc_id, text FROM (
            SELECT x.batch, x.doc_id, x.text, ROW_NUMBER() OVER (
                PARTITION BY md5(x.text) ORDER BY x.doc_id) AS rn
            FROM in{i} x LEFT JOIN dh{i} h ON md5(x.text) = h.digest
            WHERE h.digest IS NULL
        ) WHERE rn = 1
    )""",
            # fuzzy phase: shingles -> 16-slot minhash -> 4 band keys
            f"""ksh{i} AS (
        SELECT batch, doc_id, text, list_distinct(list_transform(
            range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
            i -> array_to_string(
                string_split(text, ' ')[i + 1 : i + 3], ' ')
        )) AS shingles FROM k{i}
    )""",
            f"""khs{i} AS (
        SELECT batch, doc_id, text, list_transform(shingles,
            s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
        FROM ksh{i}
    )""",
            f"ksig{i} AS (SELECT batch, doc_id, text, "
            f"[{_MINHASH_SLOTS}] AS minhash FROM khs{i})",
            f"""kb{i} AS (
        SELECT batch, doc_id, text, b, md5(array_to_string(
            minhash[b * 4 + 1 : b * 4 + 4], ',')) AS bkey
        FROM ksig{i}, UNNEST(range(0, 4)) AS t(b)
    )""",
            f"""hh{i} AS (
        SELECT DISTINCT s.doc_id FROM kb{i} s
        JOIN bh{i} h ON s.b = h.b AND s.bkey = h.bkey
    )""",
            f"fr{i} AS (SELECT * FROM k{i} WHERE doc_id NOT IN "
            f"(SELECT doc_id FROM hh{i}))",
            f"fb{i} AS (SELECT s.* FROM kb{i} s WHERE s.doc_id IN "
            f"(SELECT doc_id FROM fr{i}))",
            f"bm{i} AS (SELECT b, bkey, min(doc_id) AS m FROM fb{i} "
            f"GROUP BY 1, 2)",
            f"""dr{i} AS (
        SELECT DISTINCT f.doc_id FROM fb{i} f
        JOIN bm{i} m ON f.b = m.b AND f.bkey = m.bkey
                    AND f.doc_id > m.m
    )""",
            f"sv{i} AS (SELECT batch, doc_id, text FROM fr{i} WHERE "
            f"doc_id NOT IN (SELECT doc_id FROM dr{i}))",
            # index extensions: SURVIVORS only, matching
            # with_digests(kept) / with_minhash_bands(kept)
            f"dh{i + 1} AS (SELECT digest FROM dh{i} UNION "
            f"SELECT md5(text) FROM sv{i})",
            f"""bh{i + 1} AS (
        SELECT b, bkey FROM bh{i} UNION
        SELECT b, bkey FROM kb{i}
        WHERE doc_id IN (SELECT doc_id FROM sv{i})
    )""",
        ]
    unions = " UNION ALL ".join(
        f"SELECT batch, doc_id FROM sv{i}"
        for i in range(len(batch_inputs))
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT CAST(batch AS BIGINT) AS batch, doc_id "
        f"FROM ({unions})"
    )


@query("streaming_ingest_fuzzy", oracle=_ingest_fuzzy_oracle)
def q_streaming_ingest_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-ingest composition gated on its FUZZY path (r10
    VERDICT ask #4 — the exact path's gate is
    ``streaming_ingest_dedup``): two document micro-batches where the
    cross-batch reposts carry ONE APPENDED WORD, so the digest phase
    cannot catch them and the verdicts come from the MinHash band
    index — batch 1 reads that index ENTIRELY through
    ``compact_ingest_state(fuzzy=True, include_latest=True)``'s
    compacted ``batch=-1`` partition, and its same-batch reposts are
    adjudicated by the batch-internal greedy banding.  (r14 trim per
    the r13 VERDICT: the third batch re-certified claims the exact
    path's 3-batch gate already carries — redelivery no-op and the
    tail-union read — at 14% of the whole bench; the band-compaction
    and history-verdict claims need one compaction and one readback,
    which this shape keeps.)  The oracle replays the full recurrence
    sequentially in SQL with the operator's own hash coefficients
    (``_ingest_fuzzy_oracle``); the short-doc reposts whose extra
    shingle shifts a band minimum legitimately SURVIVE, and both
    engines must agree on exactly which."""
    import shutil
    import tempfile

    from ..streaming.ingest import compact_ingest_state, ingest_dedup_batch

    # r16 scan-widen probe REVERTED: neutral at best here (12.7 s ->
    # 12.3 s min, within rep noise) and the sibling exact-dedup gate
    # regressed 1.7x under the same widen — the ingest gates are
    # commit/state-bound.  r17 re-probe: widen + in-gate
    # localCheckpoint also neutral (10.30 -> 10.28 min-of-7).  Don't
    # re-try either form.
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shift = lambda df, k: df.withColumn(  # noqa: E731
        "doc_id", F.col("doc_id") + F.lit(k)
    )
    repost = lambda df: df.withColumn(  # noqa: E731
        "text", F.concat(F.col("text"), F.lit(" repost"))
    )
    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        shift(docs.filter(F.col("doc_id") % 3 == 1), 1_000_000)
        .unionByName(
            repost(shift(docs.filter(F.col("doc_id") % 6 == 0), 2_000_000))
        )
        .unionByName(
            repost(shift(docs.filter(F.col("doc_id") % 6 == 1), 4_000_000))
        ),
    ]
    root = tempfile.mkdtemp(prefix="smashed_ingest_fuzzy_gate_")
    state, out_dir = root + "/state", root + "/out"
    try:
        for i, b in enumerate(batches):
            ingest_dedup_batch(b, state, out_dir, batch_id=i, fuzzy=True)
            if i == 0:
                # fold batch 0's digest+band partitions into batch=-1
                # (include_latest: there is no earlier batch to keep
                # as tail) — batch 1's history verdicts then come
                # ENTIRELY through the compacted band index
                compact_ingest_state(
                    spark, state, fuzzy=True, include_latest=True
                )
        out = (
            spark.read.parquet(out_dir)
            .select(F.col("batch").cast("bigint").alias("batch"), "doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# relational analytics: TPC-H Q3-shaped shipping priority
# ---------------------------------------------------------------------------


@query(
    "join_shipping_priority",
    oracle="""
    WITH r AS (
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-06-01'
          AND l.l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY 1, 3, 4
    )
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY revenue DESC, l_orderkey) AS rank
        FROM r
    ) WHERE rank <= 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the customer dimension broadcasts (the fact side
    never shuffles for it), lineitem joins orders on the shuffle key
    both sides already share, and the final top-10 ranks a tiny
    aggregated set — rounded revenue makes the order engine-stable."""
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    joined = (
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    )
    agg = joined.groupBy(
        "l_orderkey", "o_orderdate", "o_orderpriority"
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "l_orderkey", "revenue", "o_orderdate", "o_orderpriority", "rank"
        )
    )


# ---------------------------------------------------------------------------
# sources / sinks round-trips (reference loaders.py:100-192) and the
# skew utilities (core/skew.py)
# ---------------------------------------------------------------------------


# skip-fraction predicate for the r12 footer-audit fold: the inclusive
# range is `n_chars <= _IO_SKIP_UPPER`, so a row group is provably
# skippable iff its footer min exceeds the bound (both engines compute
# it from the SAME physical files the gate just wrote)
_IO_SKIP_UPPER = 175
# r14 cache-bracket fold: the bracketed BinarizerMapper threshold
_IO_CACHE_THRESHOLD = 300


# Z-clustered-copy path shared by the gate (writer) and the
# footer-audit oracle (parquet_metadata reader); see _bind_gate_dir for
# the import-time binding and SMASHED_IO_ZDOCS_DIR override.  DuckDB
# only touches the files at EXECUTE time, which the drive sequences
# after the Spark run (the gate write is mode=overwrite, so a stale
# directory from a crashed earlier run is replaced before the oracle
# reads).
_IO_ZDOCS_PATH = _bind_gate_dir("SMASHED_IO_ZDOCS_DIR", "smashed_io_zdocs")


def _io_zdocs_path() -> str:
    return _IO_ZDOCS_PATH


def _io_roundtrip_oracle() -> str:
    """io_roundtrip oracle incl. the r11 Z-order fold: the zkey is
    recomputed from first principles in DuckDB — exact min/max bounds
    as a CTE (the gate's fit_zorder_bounds is the same exact
    aggregate), exact HUGEINT rank arithmetic, and the SAME Morton
    interleave the operator uses (sources/layout.py `_interleave_expr`
    generates both sides, so the bit layout cannot drift).  The r11
    retention fold is the WHERE tail: the gate applies a forget list
    (every doc_id divisible by 37) to the written Z-clustered parquet
    copy via sources/retention.py apply_deletions — an in-place
    staged-swap rewrite — so a ghost row, an over-deletion, or a
    corrupted survivor breaks the row count AND the hash.

    r12 footer-audit fold: DuckDB's ``parquet_metadata()`` reads the
    SAME parquet footers sources/layout.py scan_stats reads on the
    executors, so the skip-fraction envelope math (row groups whose
    n_chars min exceeds the predicate bound) is replayed independently
    — closing the r11 "footers are not SQL-visible" refusal."""
    from ..sources.layout import _interleave_expr

    zdocs = _io_zdocs_path()
    interleave = _interleave_expr(["r1", "r2"], bits=8, dialect="duckdb")
    return f"""
    WITH zb AS (
        SELECT min(n_chars) AS lo1, max(n_chars) AS hi1,
               min(doc_id) AS lo2, max(doc_id) AS hi2
        FROM documents
    ), zr AS (
        SELECT doc_id,
               CAST((CAST(n_chars AS HUGEINT) - lo1) * 255
                    // CAST(hi1 - lo1 AS HUGEINT) AS BIGINT) AS r1,
               CAST((CAST(doc_id AS HUGEINT) - lo2) * 255
                    // CAST(hi2 - lo2 AS HUGEINT) AS BIGINT) AS r2
        FROM documents, zb
    ), fm AS (
        SELECT CAST(stats_min_value AS BIGINT) AS mn,
               row_group_num_rows AS nr
        FROM parquet_metadata('{zdocs}/*.parquet')
        WHERE path_in_schema = 'n_chars'
    ), sk AS (
        SELECT CAST(count(*) AS BIGINT) AS rg_total,
               CAST(coalesce(sum(CASE WHEN mn > {_IO_SKIP_UPPER}
                                      THEN 1 END), 0) AS BIGINT)
                   AS rg_skipped,
               CAST(coalesce(sum(nr), 0) AS BIGINT) AS rows_total,
               CAST(coalesce(sum(CASE WHEN mn > {_IO_SKIP_UPPER}
                                      THEN nr END), 0) AS BIGINT)
                   AS rows_skipped
        FROM fm
    )
    SELECT d.doc_id, d.lang, d.n_chars, d.source, d.text,
           {interleave} AS zkey,
           sk.rg_total, sk.rg_skipped, sk.rows_total, sk.rows_skipped,
           CAST(d.n_chars > {_IO_CACHE_THRESHOLD} AS BIGINT) AS cache_flag
    FROM documents d JOIN zr USING (doc_id)
    CROSS JOIN sk
    WHERE d.doc_id % 37 <> 0
    """


@query("io_roundtrip", oracle=_io_roundtrip_oracle)
def q_io_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sink/loader cycles in one gate: write_csv then
    CsvLoaderMapper (reference loaders.py:139-168) for one column set,
    write_jsonl (gzip) then JsonlLoaderMapper (loaders.py:171-192) for
    another, re-joined on doc_id — every row and value must survive
    both round-trips.  r11 fold: a THIRD roundtrip through
    optimize_layout (sources/layout.py) writes (doc_id, n_chars)
    Z-order-clustered on both columns at bits=8 with the key kept, and
    the read-back ``zkey`` joins into the result — the oracle
    recomputes every Morton key from first principles in exact integer
    arithmetic, so the clustered write path (bounds fit, rank math,
    bit interleave, range-partitioned write) is certified
    value-for-value.

    r12 fold: the footer audit (sources/layout.py scan_stats +
    skip_fraction) runs over the deletion-rewritten clustered copy and
    its row-group skip accounting rides the result as literal columns;
    DuckDB's parquet_metadata() recomputes the same envelope math from
    the same physical footers — per-row-group min/max, row counts, and
    the ``n_chars <= 175`` prune verdicts are all value-checked.

    r14 fold (Start/EndCachingMapper's first driver gate, unit-only
    since r5): a bracketed BinarizerMapper segment runs through
    ``run_with_cache`` TWICE — the first pass writes the
    fingerprint-addressed parquet checkpoint, the second must HIT it
    (asserted by the checkpoint's file listing+mtimes being untouched,
    and by the fingerprint path the gate recomputes independently
    existing on disk).  The ``cache_flag`` column in the result is
    read from the checkpoint files themselves, so the oracle's
    ``n_chars > threshold`` replay certifies the cached values; the
    changed-config MISS branch is pinned by the fingerprint unit
    tests in tests/test_core_order.py."""
    import tempfile

    from ..sources.layout import optimize_layout
    from ..sources.loaders import CsvLoaderMapper, JsonlLoaderMapper
    from ..sources.sinks import write_csv, write_jsonl

    base = tempfile.mkdtemp(prefix="smashed_io_")
    # the returned DataFrame reads these files LAZILY (the driver
    # collects after this function returns), so the dir can't be
    # removed here — clean it at interpreter exit so repeated gate
    # runs don't accumulate tmp data
    import atexit
    import shutil

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    # repartition before writing: the parquet scan yields 1-2 input
    # splits at test SF, which would serialize the (gzip) encode work
    # through as few tasks
    docs = load(spark, sf_dir, "documents").repartition(8)

    zdocs = _io_zdocs_path()
    _claim_gate_dir(zdocs, "SMASHED_IO_ZDOCS_DIR")
    atexit.register(shutil.rmtree, zdocs, ignore_errors=True)

    import os

    from ..operators.types import BinarizerMapper
    from ..sources.cache import (
        EndCachingMapper,
        StartCachingMapper,
        dataset_fingerprint,
        run_with_cache,
        segment_fingerprint,
    )
    from ..sources.layout import scan_stats, skip_fraction
    from ..sources.retention import apply_deletions

    # r16: the four roundtrips are mutually independent (separate
    # output dirs, no shared state) but were run back-to-back — on a
    # wide executor the tail of each write left most cores idle.
    # Submit them from a small driver thread pool so each job's tail
    # back-fills the others (the optimization playbook's concurrent-
    # jobs idiom); within each chain the ordering stays sequential.
    def _csv_phase():
        write_csv(
            docs.select("doc_id", "lang", "n_chars"),
            base + "/csv_docs",
            mode="overwrite",
        )

    def _jsonl_phase():
        write_jsonl(
            docs.select("doc_id", "source", "text"),
            base + "/jsonl_docs",
            mode="overwrite",
        )

    def _zorder_phase():
        optimize_layout(
            docs.select("doc_id", "n_chars"),
            zdocs,
            cluster_by=["n_chars", "doc_id"],
            bits=8,
            num_files=4,
            keep_zorder_column=True,
            mode="overwrite",
        )
        # r11 retention fold: forget-list rewrite of the clustered copy
        # (staged swap, broadcast anti-join) — the inner join below
        # then certifies the surviving row set value-for-value
        apply_deletions(
            spark,
            zdocs,
            docs.filter(F.col("doc_id") % 37 == 0).select("doc_id"),
            "doc_id",
        )
        # r12 footer-audit fold: scan_stats reads the rewritten copy's
        # parquet footers on the executors and skip_fraction computes
        # what a stats-aware scan of `n_chars <= _IO_SKIP_UPPER` may
        # prune; the audit numbers ride the result as literal columns
        # and the oracle recomputes them from the SAME footers via
        # parquet_metadata()
        return skip_fraction(
            scan_stats(spark, zdocs, columns=["n_chars"]),
            "n_chars",
            upper=_IO_SKIP_UPPER,
        )

    def _cache_phase():
        # r14 cache-bracket fold: miss pass writes the checkpoint,
        # second pass must hit it — certified by the checkpoint staying
        # untouched and by the independently recomputed fingerprint
        # path existing
        cache_dir = base + "/cache"
        seg_in = docs.select(
            "doc_id", F.col("n_chars").alias("cache_flag")
        )
        segment = [BinarizerMapper("cache_flag", _IO_CACHE_THRESHOLD)]
        mappers = (
            [StartCachingMapper(cache_dir)] + segment + [EndCachingMapper()]
        )
        run_with_cache(mappers, seg_in)  # miss: computes + writes

        ckpt = os.path.join(
            cache_dir,
            dataset_fingerprint(seg_in),
            segment_fingerprint(segment),
        )
        if not os.path.isdir(ckpt):
            raise AssertionError(
                "io_roundtrip: cache checkpoint missing at the "
                f"recomputed fingerprint path {ckpt!r} — fingerprints "
                "drifted between two computations over the same plan"
            )

        def _listing():
            return sorted(
                (n, os.path.getmtime(os.path.join(ckpt, n)))
                for n in os.listdir(ckpt)
            )

        before_hit = _listing()
        out = run_with_cache(mappers, seg_in).select(
            "doc_id", F.col("cache_flag").cast("bigint")
        )
        if _listing() != before_hit:
            raise AssertionError(
                "io_roundtrip: second run_with_cache pass REWROTE the "
                "checkpoint — the hit path did not engage"
            )
        return out

    # r17 quiet-host adjudication (VERDICT item 7): pooled vs
    # sequential min-of-7 on an idle host = 4.10 s vs 4.46 s (steady
    # reps 4.1-4.3 vs 4.6-6.1) — the pool stands; the r16 driver's
    # 0.63x "regression" was shared-disk contention, where four
    # concurrent write chains serialize behind the device anyway.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_csv = pool.submit(_csv_phase)
        f_jsonl = pool.submit(_jsonl_phase)
        f_z = pool.submit(_zorder_phase)
        f_cache = pool.submit(_cache_phase)
        f_csv.result()
        f_jsonl.result()
        sk = f_z.result()
        from_cache = f_cache.result()

    from_z = spark.read.parquet(zdocs).select("doc_id", "zkey")
    csv_paths = spark.createDataFrame([(base + "/csv_docs",)], "path: string")
    jsonl_paths = spark.createDataFrame(
        [(base + "/jsonl_docs",)], "path: string"
    )
    from_csv = (
        CsvLoaderMapper("path")
        .map(csv_paths)
        .select(
            F.col("doc_id").cast("bigint"),
            "lang",
            F.col("n_chars").cast("bigint"),
        )
    )
    from_jsonl = (
        JsonlLoaderMapper(
            "path", schema="doc_id bigint, source string, text string"
        )
        .map(jsonl_paths)
        .select("doc_id", "source", "text")
    )
    return (
        from_csv.join(from_jsonl, "doc_id")
        .join(from_z, "doc_id")
        .join(from_cache, "doc_id")
        .select(
            "doc_id", "lang", "n_chars", "source", "text", "zkey",
            "cache_flag",
        )
        .withColumn("rg_total", F.lit(sk["row_groups"]).cast("bigint"))
        .withColumn(
            "rg_skipped", F.lit(sk["skipped_row_groups"]).cast("bigint")
        )
        .withColumn("rows_total", F.lit(sk["rows"]).cast("bigint"))
        .withColumn(
            "rows_skipped", F.lit(sk["skipped_rows"]).cast("bigint")
        )
    )


@query(
    "combine_sources",
    oracle="""
    WITH a AS (
        SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn,
               0 AS src
        FROM documents WHERE n_chars > 500
    ), b AS (
        SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn,
               1 AS src
        FROM documents WHERE n_chars <= 100
    ), u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
    n AS (SELECT least((SELECT count(*) FROM a),
                       (SELECT count(*) FROM b)) AS m)
    SELECT doc_id, lang, CAST(-1 AS BIGINT) AS ord, 'concat' AS part,
           CAST(NULL AS DOUBLE) AS n_chars_d
    FROM u
    UNION ALL
    SELECT doc_id, lang, CAST(rn * 2 + src AS BIGINT) AS ord,
           'interleave' AS part, CAST(NULL AS DOUBLE) AS n_chars_d
    FROM u, n WHERE rn < m
    UNION ALL
    SELECT doc_id, lang, CAST(-2 AS BIGINT) AS ord, 'evolved' AS part,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(CAST(n_chars AS FLOAT) AS DOUBLE)
                ELSE NULL END AS n_chars_d
    FROM documents
    """,
)
def q_combine_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concatenate_datasets and interleave_datasets (reference
    combine_strategy='concatenate'/'interleave', loaders.py:100-116) on
    the same two sources, tagged and unioned: interleave alternates row
    i of each source, stopping with the shortest, and its explicit
    order column is the downstream ordering key.

    r11 'evolved' stage: the schema-evolution read
    (sources/evolve.py) over two generation snapshots written to tmp —
    v1 (even doc_ids) with an INT doc_id and NO n_chars column, v2
    (odd doc_ids) with a BIGINT doc_id and a FLOAT n_chars —
    read_evolved aligns both to (doc_id bigint, lang string, n_chars_d
    double): the int→bigint and float→double safe widenings and the
    missing-column→typed-NULL policy are value-checked by the oracle's
    CASE tail (DuckDB replays the float32 round-trip with the same
    IEEE cast chain)."""
    from ..sources.loaders import (
        INTERLEAVE_ORDER,
        concatenate_datasets,
        interleave_datasets,
    )

    import tempfile

    from ..sources.evolve import read_evolved

    docs = load(spark, sf_dir, "documents")
    a = docs.filter("n_chars > 500").select("doc_id", "lang")
    b = docs.filter("n_chars <= 100").select("doc_id", "lang")
    cat = (
        concatenate_datasets([a, b])
        .withColumn("ord", F.lit(-1).cast("bigint"))
        .withColumn("part", F.lit("concat"))
    )
    inter = interleave_datasets(
        [a, b], order_by=["doc_id"], keep_order_column=True
    ).select(
        "doc_id",
        "lang",
        F.col(INTERLEAVE_ORDER).cast("bigint").alias("ord"),
        F.lit("interleave").alias("part"),
    )
    nulled = F.lit(None).cast("double").alias("n_chars_d")
    out = cat.unionByName(inter).select(
        "doc_id", "lang", "ord", "part", nulled
    )

    # r11 evolved stage: two generation snapshots with drifting
    # schemas, aligned by read_evolved.  The returned frame reads the
    # snapshots LAZILY (driver collects later) — clean at exit, not
    # here (the io_roundtrip pattern)
    import atexit
    import shutil

    base = tempfile.mkdtemp(prefix="smashed_evolve_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    # r16 scan-overlap probe REVERTED: submitting these two writes
    # from a driver thread pool (io_roundtrip pattern) measured 1.49
    # -> 1.62 s min-of-7 — each job is ONE task at gate scale (the
    # docs scan is a single row group), so there is no task tail to
    # back-fill, only scheduler churn.  Don't re-try.
    docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").cast("int").alias("doc_id"), "lang"
    ).write.mode("overwrite").parquet(base + "/v1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.col("n_chars").cast("float").alias("n_chars_d")
    ).write.mode("overwrite").parquet(base + "/v2")
    evolved = read_evolved(
        spark,
        [base + "/v1", base + "/v2"],
        "doc_id bigint, lang string, n_chars_d double",
    ).select(
        "doc_id",
        "lang",
        F.lit(-2).cast("bigint").alias("ord"),
        F.lit("evolved").alias("part"),
        "n_chars_d",
    )
    return out.unionByName(evolved)


# Count-Min geometry for the skew_salted fold — width 32 is DELIBERATELY
# tiny so the ~25 nation keys collide and the oracle certifies the
# overcount branch (min over depth rows) as well as the exact one
_CMS_DEPTH = 4
_CMS_WIDTH = 32
_CMS_SALT = 0


@query(
    "skew_salted",
    oracle=f"""
    WITH joined AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
               o.o_orderkey, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), agg AS (
        SELECT nationkey, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM joined GROUP BY 1
    ), h AS (
        SELECT ('0x' || substr(md5(CAST(nationkey AS VARCHAR)
                   || ':cms:{_CMS_SALT}'), 1, 8))::BIGINT AS h1,
               (('0x' || substr(md5(CAST(nationkey AS VARCHAR)
                   || ':cms:{_CMS_SALT}'), 9, 8))::BIGINT | 1) AS h2
        FROM joined
    ), counters AS (
        SELECT j, (h1 + j * h2) % {_CMS_WIDTH} AS p, count(*) AS c
        FROM h, (SELECT unnest(range({_CMS_DEPTH})) AS j) GROUP BY 1, 2
    ), keyed AS (
        SELECT nationkey,
               ('0x' || substr(md5(CAST(nationkey AS VARCHAR)
                   || ':cms:{_CMS_SALT}'), 1, 8))::BIGINT AS h1,
               (('0x' || substr(md5(CAST(nationkey AS VARCHAR)
                   || ':cms:{_CMS_SALT}'), 9, 8))::BIGINT | 1) AS h2
        FROM agg
    ), est AS (
        SELECT nationkey, min(c) AS cms_orders FROM (
            SELECT k.nationkey, ct.c
            FROM keyed k
            CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS j) d
            JOIN counters ct
              ON ct.j = d.j AND ct.p = (k.h1 + d.j * k.h2) % {_CMS_WIDTH}
        ) GROUP BY 1
    )
    SELECT a.nationkey, a.n_orders, a.revenue, e.cms_orders
    FROM agg a JOIN est e USING (nationkey)
    """,
)
def q_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """salted_join then salted_groupby_agg, both skew utilities in one
    gate: the dimension is replicated num_salts times and the fact
    scattered uniformly for the join; the rollup runs partials on
    (key, salt) and re-merges algebraically — byte-identical to the
    direct join + group-by, immune to hot keys.

    r12 'cms' fold: a Count-Min sketch (functions/cms.py) is fit over
    the per-order nationkey stream (the key column whose skew the salt
    utilities exist for) and its per-key frequency estimate rides the
    result as ``cms_orders`` — the mergeable replacement for the exact
    per-key table a 100 TB heavy-hitter probe can't keep.  The oracle
    replays the fit from first principles (md5 Kirsch-Mitzenmacher
    positions, the test-pinned DuckDB convention of tests/test_cms.py)
    and takes the same min-over-depth estimate; width 32 forces real
    collisions so the one-sided overcount branch is value-checked, not
    just the collision-free identity."""
    from ..core.skew import salted_groupby_agg, salted_join
    from ..functions.cms import fit_cms, with_cms_estimate

    orders = load(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    customer = load(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    joined = salted_join(orders, customer, on="custkey", num_salts=8).select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        "o_orderkey",
        "o_totalprice",
    )
    out = salted_groupby_agg(
        joined,
        ["nationkey"],
        {"n_orders": ("o_orderkey", "count"), "revenue": ("o_totalprice", "sum")},
        num_salts=8,
    )
    # the fit only needs the nationkey MULTISET, so it reads the plain
    # broadcast join on a slim projection rather than re-evaluating the
    # 8x-replicated salted plan a second time (TRAP 14: filter/fit
    # side-pipelines should never double-evaluate a wide parent)
    # r16 opt: the fit's map side (md5 position arithmetic per row)
    # ran on the single-row-group orders scan's ONE task; fit_cms is
    # documented partition-invariant, so the widen is value-safe.
    # Only the fit branch is widened — the salted join plan above is
    # exchange-bound and keeps its scan untouched.
    from ..core.parallel import ensure_min_parallelism

    key_stream = ensure_min_parallelism(orders.select("custkey")).join(
        F.broadcast(customer.select("custkey", "c_nationkey")), "custkey"
    ).select(F.col("c_nationkey").cast("bigint").alias("nationkey"))
    sketch = fit_cms(
        key_stream, "nationkey",
        depth=_CMS_DEPTH, width=_CMS_WIDTH, salt=_CMS_SALT,
    )
    out = with_cms_estimate(out, "nationkey", sketch, out="cms_orders")
    return out.withColumn("revenue", F.round("revenue", 2))


# ---------------------------------------------------------------------------
# round-5 gates: as-of join, range join, weighted corpus mixing
# (functions/asof.py, sources/loaders.py:sample_mix) — registered inside
# the 50-query cap freed by folding filter_in_contains/one_hot/
# make_field_const into their family gates
# ---------------------------------------------------------------------------


@query(
    "asof_join",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, epoch_us(ts) AS t FROM events
    ), r AS (
        SELECT user_id, epoch_us(ts) AS t, round(max(value), 6) AS rv
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, epoch_us(ts)
    ), al AS (
        SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        WHERE event_id % 2 = 1
    ), rd AS (
        SELECT user_id, epoch_us(ts) AS rt, round(value, 6) AS rv
        FROM events WHERE event_id % 2 = 0
    )
    SELECT l.event_id, l.user_id, l.t, r.t AS t_asof, r.rv AS rv_asof,
           'asof' AS stage
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.t >= r.t
    UNION ALL
    SELECT al.event_id, al.user_id, al.t, rd.rt AS t_asof,
           rd.rv AS rv_asof, 'interval' AS stage
    FROM al LEFT JOIN rd
      ON al.user_id = rd.user_id
     AND rd.rt BETWEEN al.t - 300000000 AND al.t
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every event picks up the value of the
    latest purchase at-or-before it by the same user (functions/
    asof.py:asof_join — union + keyed window, ONE exchange, no join
    node).  The right side is deduped to unique (user_id, t) keys so
    ties are deterministic on both engines; DuckDB's native ASOF LEFT
    JOIN is the oracle.

    r11 'interval' stage: the batch tier of streaming/joins.py
    interval_join — odd events (alerts) LEFT-OUTER matched to ALL even
    events (readings) by the same user within a 5-minute lookback
    (inclusive both ends), the multi-match generalization the as-of
    join truncates to one row.  The oracle replays it as a plain
    BETWEEN theta join on epoch micros; the streaming tier of the SAME
    call is pinned separately by the streaming==batch equivalence
    tests and the BENCH_SCALE interval_join_stream probe."""
    from ..functions.asof import asof_join
    from ..streaming.joins import interval_join

    ev = load(spark, sf_dir, "events")
    left = ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("t")
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.unix_micros("ts").alias("t"))
        .agg(F.round(F.max("value"), 6).alias("rv"))
    )
    asof = asof_join(left, right, on="t", by=["user_id"]).withColumn(
        "stage", F.lit("asof")
    )

    alerts = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts"
    )
    readings = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id",
        F.col("ts").alias("r_ts"),
        F.round("value", 6).alias("rv"),
    )
    ij = interval_join(
        alerts,
        readings,
        on="user_id",
        left_ts="ts",
        right_ts="r_ts",
        before="5 minutes",
        after="0 seconds",
        how="left_outer",
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.unix_micros("r_ts").alias("t_asof"),
        F.col("rv").alias("rv_asof"),
        F.lit("interval").alias("stage"),
    )
    return asof.unionByName(ij)


@query(
    "range_join",
    oracle="""
    WITH iv AS (
        SELECT CAST(i AS BIGINT) AS interval_id,
               i * 12.5 AS istart, i * 12.5 + 25.0 AS iend
        FROM (SELECT unnest(range(0, 40)) AS i)
    )
    SELECT e.event_id, round(e.value, 6) AS x,
           iv.interval_id, round(iv.istart, 6) AS istart,
           round(iv.iend, 6) AS iend
    FROM events e JOIN iv
      ON iv.istart <= e.value AND e.value < iv.iend
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment (RangeJoinMapper): events join the
    overlapping value bands [i*12.5, i*12.5+25) — every point falls in
    <=2 bands.  Bucketed equi-join with the exact predicate as the
    join residual (never a theta/cartesian plan — asserted in
    tests/test_asof_range.py); the oracle is the straightforward
    DuckDB theta join, tractable at oracle scale."""
    from ..functions.asof import RangeJoinMapper

    ivals = (
        spark.range(40)
        .select(
            F.col("id").alias("interval_id"),
            (F.col("id") * 12.5).alias("istart"),
            (F.col("id") * 12.5 + 25.0).alias("iend"),
        )
    )
    points = load(spark, sf_dir, "events").select(
        "event_id", F.col("value").alias("x")
    )
    out = RangeJoinMapper(
        ivals,
        point_field="x",
        start_field="istart",
        end_field="iend",
        bucket_width=25.0,
    ).map(points)
    return out.select(
        "event_id",
        F.round("x", 6).alias("x"),
        "interval_id",
        F.round("istart", 6).alias("istart"),
        F.round("iend", 6).alias("iend"),
    )


@query(
    "sample_mix",
    oracle=f"""
    WITH en AS (SELECT doc_id, lang, n_chars, text FROM documents
                WHERE lang = 'en'),
    rest AS (SELECT doc_id, lang, n_chars, text FROM documents
             WHERE lang <> 'en'),
    mixed AS (
        SELECT doc_id, lang, n_chars, text, 0 AS src FROM en
        UNION ALL
        SELECT doc_id, lang, n_chars, text, 0 AS src FROM en
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':13:0'), 1, 8))
              ::BIGINT < 2147483648
        UNION ALL
        SELECT doc_id, lang, n_chars, text, 1 AS src FROM rest
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':13:1'), 1, 8))
              ::BIGINT < 1073741824
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY src, lang
            ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
                                     1, 15))::BIGINT, doc_id
        ) AS qr
        FROM mixed
    )
    , capped AS (
        SELECT doc_id, lang, n_chars, text, src,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                             || ':11'), 1, 15))::BIGINT
                         < CAST(0.9 * 1152921504606846976 AS BIGINT)
                    THEN 'train' ELSE 'heldout' END AS split
        FROM ranked WHERE qr <= 25
    ),
    -- r7: incremental ingestion dedup — anti-join vs the running
    -- digest index ("yesterday's batch" = docs with doc_id % 10 = 0),
    -- then batch-internal first-wins by doc_id per digest
    seen AS (SELECT DISTINCT md5(text) AS digest FROM documents
             WHERE doc_id % 10 = 0),
    keyed AS (SELECT *, md5(text) AS digest FROM capped),
    fresh AS (SELECT k.* FROM keyed k LEFT JOIN seen s USING (digest)
              WHERE s.digest IS NULL),
    survivors AS (
        SELECT doc_id, lang, n_chars, text, src, split, digest FROM (
            SELECT *, row_number() OVER (
                PARTITION BY digest ORDER BY doc_id) AS drn
            FROM fresh
        ) WHERE drn = 1
    ),
    -- r7: incremental FUZZY dedup — MinHash band keys (coefficients
    -- shared with the Spark operator) vs the % 10 history's band
    -- index, then greedy first-wins banding within the batch
    seensh AS (
        SELECT list_distinct(list_transform(
            range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
            i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3],
                                 ' '))) AS shingles
        FROM documents WHERE doc_id % 10 = 0
    ),
    seenhs AS (
        SELECT list_transform(shingles,
            s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
        FROM seensh
    ),
    seensig AS (SELECT [{_MINHASH_SLOTS}] AS minhash FROM seenhs),
    seenbands AS (
        SELECT DISTINCT b, md5(array_to_string(
            minhash[b * 4 + 1 : b * 4 + 4], ',')) AS bkey
        FROM seensig, UNNEST(range(0, 4)) AS t(b)
    ),
    survsh AS (
        SELECT doc_id, list_distinct(list_transform(
            range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
            i -> array_to_string(string_split(text, ' ')[i + 1 : i + 3],
                                 ' '))) AS shingles
        FROM survivors
    ),
    survhs AS (
        SELECT doc_id, list_transform(shingles,
            s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
        FROM survsh
    ),
    survsig AS (SELECT doc_id, [{_MINHASH_SLOTS}] AS minhash FROM survhs),
    survbands AS (
        SELECT doc_id, b, md5(array_to_string(
            minhash[b * 4 + 1 : b * 4 + 4], ',')) AS bkey
        FROM survsig, UNNEST(range(0, 4)) AS t(b)
    ),
    hist_hit AS (
        SELECT DISTINCT s.doc_id FROM survbands s
        JOIN seenbands k ON s.b = k.b AND s.bkey = k.bkey
    ),
    freshf AS (
        SELECT doc_id FROM survivors
        WHERE doc_id NOT IN (SELECT doc_id FROM hist_hit)
    ),
    fbands AS (
        SELECT f.doc_id, s.b, s.bkey
        FROM survbands s JOIN freshf f USING (doc_id)
    ),
    bmins AS (SELECT b, bkey, min(doc_id) AS m FROM fbands GROUP BY 1, 2),
    fdrops AS (
        SELECT DISTINCT f.doc_id FROM fbands f
        JOIN bmins m ON f.b = m.b AND f.bkey = m.bkey AND f.doc_id > m.m
    ),
    fuzzy AS (
        SELECT doc_id, lang, n_chars, src, split, digest FROM survivors
        WHERE doc_id IN (SELECT doc_id FROM freshf)
          AND doc_id NOT IN (SELECT doc_id FROM fdrops)
    ),
    -- r7: greedy token-budget selection — a doc is in budget iff the
    -- EXCLUSIVE prefix sum of n_chars before it (score = n_chars
    -- desc, doc_id tiebreak) is under 15000 (boundary doc included)
    budgeted AS (
        SELECT doc_id, lang, n_chars, src, split, digest,
               CAST(coalesce(sum(n_chars) OVER (
                   ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) < 15000 AS INT) AS in_budget
        FROM fuzzy
    ), sharded AS (
        SELECT *,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':5'),
                                    1, 15))::BIGINT % 4 AS INT) AS shard
        FROM budgeted
    ),
    -- r12: Bloom-filter membership replay (functions/bloom.py) — the
    -- history index's bit positions from the SAME md5 double-hash the
    -- operator uses (tests/test_bloom.py pins the convention); a row
    -- flags True iff EVERY one of its positions was set by history
    histbits AS (
        SELECT DISTINCT
            (('0x' || substr(md5(digest || ':bloom:0'), 1, 8))::BIGINT
             + bt.i * (('0x' || substr(md5(digest || ':bloom:0'), 9, 8))
                           ::BIGINT | 1)) % {_BLOOM_BITS} AS bit
        FROM seen, UNNEST(range(0, {_BLOOM_HASHES})) AS bt(i)
    ),
    rowpos AS (
        SELECT doc_id,
            (('0x' || substr(md5(digest || ':bloom:0'), 1, 8))::BIGINT
             + u.i * (('0x' || substr(md5(digest || ':bloom:0'), 9, 8))
                          ::BIGINT | 1)) % {_BLOOM_BITS} AS p
        FROM sharded, UNNEST(range(0, {_BLOOM_HASHES})) AS u(i)
    ),
    miss AS (
        SELECT DISTINCT r.doc_id FROM rowpos r
        LEFT JOIN histbits b ON r.p = b.bit
        WHERE b.bit IS NULL
    ),
    -- r13: temperature_weights replay — q_i ∝ p_i^0.5 keep rates
    -- recomputed from SUM(n_chars) with the EXACT Python operation
    -- order (q raw -> normalize -> target = min(s/q) -> rate =
    -- q * target / s; power(x, 0.5) is the same libm pow the driver
    -- called), then the sample_mix hash thresholds:
    -- u(doc_id:17:src) < floor(rate * 2^32) — always true for the
    -- rate-1.0 source, the fractional filter for the other
    tsz AS (
        SELECT CAST(sum(CASE WHEN lang = 'en' THEN n_chars
                             ELSE 0 END) AS DOUBLE) AS s0,
               CAST(sum(CASE WHEN lang <> 'en' THEN n_chars
                             ELSE 0 END) AS DOUBLE) AS s1
        FROM documents
    ),
    tq AS (
        SELECT s0, s1,
               power(s0 / (s0 + s1), 0.5) AS q0r,
               power(s1 / (s0 + s1), 0.5) AS q1r
        FROM tsz
    ),
    trates AS (
        SELECT least(s0 / (q0r / (q0r + q1r)), s1 / (q1r / (q0r + q1r)))
                   AS target,
               q0r / (q0r + q1r) AS q0n, q1r / (q1r + q0r) AS q1n,
               s0, s1
        FROM tq
    ),
    tthr AS (
        SELECT CAST(floor(q0n * target / s0 * 4294967296.0) AS BIGINT)
                   AS t0,
               CAST(floor(q1n * target / s1 * 4294967296.0) AS BIGINT)
                   AS t1
        FROM trates
    )
    SELECT doc_id, lang, n_chars, src, split, digest, in_budget, shard,
           CAST(row_number() OVER (
               PARTITION BY shard
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                            || ':5:order'), 1, 15))::BIGINT,
                        doc_id
           ) AS BIGINT) AS shard_rank,
           doc_id NOT IN (SELECT doc_id FROM miss) AS hist_maybe,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':17:'
                               || CAST(src AS VARCHAR)), 1, 8))::BIGINT
               < (CASE WHEN src = 0 THEN (SELECT t0 FROM tthr)
                       ELSE (SELECT t1 FROM tthr) END) AS temp_kept
    FROM sharded
    """,
)
def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation chain (r7): weighted corpus mixing
    (sources/loaders.py:sample_mix, method='hash') -> per-(source,
    lang) quota capping -> append-stable train/heldout split ->
    incremental ingestion dedup (functions/dedup.py:dedup_incremental
    — LEFT ANTI vs a digest index + batch-internal first-wins) ->
    greedy token-budget selection (sources/loaders.py:
    select_under_token_budget) -> deterministic training-shard export.
    English docs oversampled at 1.5 epochs (one whole copy + a 0.5
    hash-sampled remainder), the rest kept at 0.25.  Every stage keys
    on md5 of the doc key/text, so the whole chain is
    partitioning-independent and the oracle replays it exactly in
    SQL."""
    from ..core.parallel import ensure_min_parallelism
    from ..sources.loaders import sample_mix

    # r16 opt: widen the one-task scan once, ahead of the whole chain
    # (guide §2.5) — every stage keys on md5(doc key/text) and the
    # prefix-sum stage sorts globally first, so values are
    # partitioning-independent by construction (the gate docstring's
    # standing claim).  r17 (VERDICT item 4): the chain's branches
    # (epoch copies, split, dedup join-backs, budget prefix sums)
    # re-executed the widen exchange 8x per plan; one in-gate
    # localCheckpoint of the ~600 KB widened scan (inside the timed
    # region — every rep pays it) makes all branches share ONE
    # materialized child instead.
    docs = ensure_min_parallelism(
        load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars", "text"
        )
    ).localCheckpoint(eager=True)
    en = docs.filter(F.col("lang") == "en")
    rest = docs.filter(F.col("lang") != "en")
    from ..sources.loaders import quota_sample

    out = sample_mix(
        [en, rest],
        weights=[1.5, 0.25],
        seed=13,
        with_source=True,
        source_column="src",
        method="hash",
        key_field="doc_id",
    )
    # r5: per-(source, lang) quota capping on top of the mix — at most
    # 25 docs per bucket, hash-ranked (quota_sample), same
    # deterministic-subset discipline so the oracle replays it
    out = quota_sample(
        out, ["src", "lang"], 25, key_field="doc_id", seed=7
    )
    # r5: append-stable train/heldout assignment (hash_split) closes
    # the composition pipeline — mix, cap, split, all keyed on doc_id
    from ..sources.loaders import hash_split

    out = hash_split(
        out, {"train": 0.9, "heldout": 0.1}, "doc_id", seed=11
    )
    # r7: incremental ingestion dedup against a running digest index
    # ("yesterday's batch" = every doc_id % 10 == 0 document) — the
    # LEFT ANTI + WindowGroupLimit first-wins stage a daily pipeline
    # runs; also collapses the 1.5-epoch duplicate copies
    from ..functions.dedup import dedup_incremental, with_digests

    seen = with_digests(
        load(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 0
        )
    )
    out = dedup_incremental(out, seen, text_field="text")
    # r7: incremental FUZZY dedup against the same batch's MinHash
    # band index — the near-dup analog (band-collision drop vs the
    # 36-byte/doc index + greedy first-wins batch dedup), composed
    # right after the exact digests so reposts AND near-reposts of
    # history both go
    from ..functions.dedup import (
        dedup_incremental_fuzzy,
        with_minhash_bands,
    )

    seen_fuzzy = with_minhash_bands(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .withColumn("words", F.split("text", " "))
    )
    out = dedup_incremental_fuzzy(
        out.withColumn("words", F.split("text", " ")), seen_fuzzy
    ).drop("words", "minhash")
    # r7: greedy token-budget selection — fit the largest docs under a
    # 15000-char budget (score = n_chars, doc_id tiebreak); the slim
    # (key, score, tokens) prefix sum + flag join-back
    from ..sources.loaders import select_under_token_budget

    out = select_under_token_budget(
        out, 15000, tokens_field="n_chars", score_field="n_chars",
        key_field="doc_id",
    )
    # r12: Bloom membership flag vs the SAME history index the exact
    # anti-join used (functions/bloom.py) — every survivor is a true
    # non-member, so True flags are exactly the sketch's deterministic
    # false positives; 128 bits over ~n/10 history keys keeps both
    # branches live at gate SF.  Certifies fit (bit_or word agg) and
    # probe (Arrow gather) end-to-end under the driver's value hash.
    from ..functions.bloom import fit_bloom, with_bloom_flag

    bloom = fit_bloom(
        seen, "digest", num_bits=_BLOOM_BITS, num_hashes=_BLOOM_HASHES
    )
    out = with_bloom_flag(out, "digest", bloom, flag_field="hist_maybe")
    # r6: deterministic training-shard export closes the chain — same
    # portable-hash convention, so shard AND within-shard order replay
    # in SQL (sinks.shard_for_training; write_training_shards
    # materializes it as shard=N/ directories in rank order).  The
    # wide text column is dropped first: shard/rank are pure functions
    # of the remaining row, and the payload shouldn't ride the shard
    # exchange in the gate plan either.
    from ..sources.sinks import shard_for_training

    out = out.drop("text")
    out = shard_for_training(out, "doc_id", n_shards=4, seed=5)
    # r13: temperature-mixing fold (sources/loaders.py
    # temperature_weights) — q_i ∝ p_i^α keep rates computed from the
    # REAL per-source token masses (one bounded 2-cell aggregate), fed
    # through an independent hash-mix (seed 17), and surfaced as a
    # membership flag on every surviving row.  α = 0.5 so the only
    # transcendental is pow(x, 0.5) — the same libm call DuckDB's
    # power() makes, so the oracle recomputes the rates bit-for-bit
    # from SUM(n_chars) and replays the thresholds exactly.  With
    # target_tokens=None the smaller source's rate is exactly 1.0
    # (kept whole) and the larger is downsampled — both flag branches
    # live by construction.
    from ..sources.loaders import temperature_weights

    sizes = docs.groupBy().agg(
        F.sum(
            F.when(F.col("lang") == "en", F.col("n_chars")).otherwise(0)
        ).alias("s0"),
        F.sum(
            F.when(F.col("lang") != "en", F.col("n_chars")).otherwise(0)
        ).alias("s1"),
    ).collect()[0]
    rates = temperature_weights(
        [float(sizes["s0"]), float(sizes["s1"])], alpha=0.5
    )
    temp_mix = sample_mix(
        [en, rest],
        weights=rates,
        seed=17,
        with_source=True,
        source_column="tsrc",
        method="hash",
        key_field="doc_id",
    ).select("doc_id", "tsrc")
    out = out.join(temp_mix, "doc_id", "left").withColumn(
        "temp_kept", F.col("tsrc").isNotNull()
    ).drop("tsrc")
    return out.withColumn("src", F.col("src").cast("int"))


# ---------------------------------------------------------------------------
# round-5 ops: exact substring dedup, KMV distinct sketch, streaming dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_substring",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), win AS (
        SELECT doc_id, u.pos,
               md5(array_to_string(
                   list_slice(words, u.pos + 1, u.pos + 6), ' ')) AS key
        FROM w, unnest(range(0, CAST(length(words) - 5 AS BIGINT))) AS u(pos)
        WHERE length(words) >= 6
    ), occ AS (
        SELECT *, count(*) OVER (PARTITION BY key) AS n_occ,
               row_number() OVER (PARTITION BY key
                                  ORDER BY doc_id, pos) AS rn
        FROM win
    ), dup AS (
        SELECT * FROM occ WHERE n_occ >= 2
    ), isl AS (
        SELECT doc_id, pos,
               CASE WHEN max(pos + 6) OVER prev IS NULL
                         OR pos > max(pos + 6) OVER prev
                    THEN 1 ELSE 0 END AS brk
        FROM dup
        WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), g AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
    ), spans AS (
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 6 AS BIGINT) AS span_end
        FROM g GROUP BY doc_id, island
    ), spanagg AS (
        SELECT doc_id,
               string_agg(span_start || ':' || span_end, ','
                          ORDER BY span_start) AS spans_str
        FROM spans GROUP BY doc_id
    ), rem AS (
        SELECT * FROM occ WHERE n_occ >= 2 AND rn >= 2
    ), isl2 AS (
        SELECT doc_id, pos,
               CASE WHEN max(pos + 6) OVER prev IS NULL
                         OR pos > max(pos + 6) OVER prev
                    THEN 1 ELSE 0 END AS brk
        FROM rem
        WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), g2 AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl2
    ), spans2 AS (
        SELECT doc_id, min(pos) AS s, max(pos) + 6 AS e
        FROM g2 GROUP BY doc_id, island
    ), cutpos AS (
        SELECT DISTINCT s.doc_id, u.i
        FROM spans2 s, unnest(range(s.s, s.e)) AS u(i)
    ), pos AS (
        SELECT doc_id, words, unnest(range(len(words))) AS i FROM w
    ), keptw AS (
        SELECT p.doc_id, p.i, p.words[p.i + 1] AS wd
        FROM pos p LEFT JOIN cutpos c
          ON c.doc_id = p.doc_id AND c.i = p.i
        WHERE c.i IS NULL
    ), clean AS (
        SELECT doc_id,
               coalesce(string_agg(wd, ' ' ORDER BY i), '') AS clean_text,
               count(*) AS n_kept
        FROM keptw GROUP BY doc_id
    )
    SELECT w.doc_id,
           coalesce(sa.spans_str, '') AS spans_str,
           CAST(len(w.words) - coalesce(c.n_kept, 0) AS BIGINT)
               AS n_removed_words,
           coalesce(c.clean_text, '') AS clean_text
    FROM w LEFT JOIN spanagg sa ON sa.doc_id = w.doc_id
           LEFT JOIN clean c ON c.doc_id = w.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans AND their removal (Lee et al.
    2021 ExactSubstr, functions/substring.py) — r6 composite: width-6
    stride-1 window hashing, global occurrence count + first-occurrence
    rank on ONE wide exchange, per-doc island merge to maximal spans
    (emitted as a sorted ``s:e`` list per doc), then the keep-first
    cut producing ``clean_text`` / ``n_removed_words`` per document.
    md5 hashing here for engine-portable parity; the production
    default is xxhash64 (8-byte shuffle keys), property-tested equal
    in tests/test_substring.py."""
    from ..core.parallel import ensure_min_parallelism
    from ..functions.substring import (
        DuplicatedSpansMapper,
        RemoveDuplicatedSpansMapper,
    )

    # r16 opt: widen the one-task scan before the per-position window
    # hashing (guide §2.5); spans key on (doc_id, position), never on
    # partitioning
    df = ensure_min_parallelism(_words(spark, sf_dir))
    spans = DuplicatedSpansMapper(width=6, hash_fn="md5").map(df)
    spans_per_doc = spans.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("span_start").cast("bigint").alias("s"),
                            F.col("span_end").cast("bigint").alias("e"),
                        )
                    )
                ),
                lambda x: F.concat_ws(
                    ":", x["s"].cast("string"), x["e"].cast("string")
                ),
            ),
            ",",
        ).alias("spans_str")
    )
    removed = (
        RemoveDuplicatedSpansMapper(width=6, hash_fn="md5")
        .map(df)
        .select("doc_id", "clean_text", "n_removed_words")
    )
    return removed.join(spans_per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("spans_str", F.lit("")).alias("spans_str"),
        "n_removed_words",
        "clean_text",
    )


@query(
    "sketch_distinct",
    oracle="""
    WITH t AS (
        SELECT 'user_id' AS col, CAST(user_id AS VARCHAR) AS v
        FROM events WHERE user_id IS NOT NULL
        UNION ALL
        SELECT 'event_type', event_type
        FROM events WHERE event_type IS NOT NULL
    ), h AS (
        SELECT DISTINCT col, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
        FROM t
    ), r AS (
        SELECT col, h,
               row_number() OVER (PARTITION BY col ORDER BY h) AS rn
        FROM h
    ), kmv_rows AS (
        SELECT col AS "column", CAST(64 AS BIGINT) AS k_used,
               CAST(least(count(*), 64) AS BIGINT) AS n_hashes,
               max(CASE WHEN rn <= 64 THEN h END) AS kth_hash,
               CAST(CASE WHEN count(*) < 64 THEN count(*)
                    ELSE (CAST(63 AS HUGEINT)
                          * CAST(1152921504606846976 AS HUGEINT))
                         // max(CASE WHEN rn <= 64 THEN h END)
                    END AS BIGINT) AS est_distinct
        FROM r GROUP BY col
    ),
    -- r12 profile stage replay: the same md5-60 KMV at k=256 over
    -- three documents columns, plus the one-pass audit statistics
    ph AS (
        SELECT 'doc_id' AS col,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT AS h
        FROM documents WHERE doc_id IS NOT NULL
        UNION ALL
        SELECT 'lang', ('0x' || substr(md5(lang), 1, 15))::BIGINT
        FROM documents WHERE lang IS NOT NULL
        UNION ALL
        SELECT 'n_chars',
               ('0x' || substr(md5(CAST(n_chars AS VARCHAR)), 1, 15))
                   ::BIGINT
        FROM documents WHERE n_chars IS NOT NULL
    ), pdh AS (
        SELECT DISTINCT col, h FROM ph
    ), prk AS (
        SELECT col, h,
               row_number() OVER (PARTITION BY col ORDER BY h) AS rn
        FROM pdh
    ), kmv256 AS (
        SELECT col,
               CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                    ELSE CAST((CAST(255 AS HUGEINT)
                               * CAST(1152921504606846976 AS HUGEINT))
                              // max(CASE WHEN rn <= 256 THEN h END)
                              AS DOUBLE)
               END AS pd
        FROM prk GROUP BY col
    ), pqp AS (
        SELECT col, v,
               row_number() OVER (PARTITION BY col ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY col) AS n
        FROM (
            SELECT 'doc_id' AS col, CAST(doc_id AS DOUBLE) AS v
            FROM documents WHERE doc_id IS NOT NULL
            UNION ALL
            SELECT 'n_chars', CAST(n_chars AS DOUBLE)
            FROM documents WHERE n_chars IS NOT NULL
        )
    ), pq AS (
        SELECT col,
               max(CASE WHEN rn = greatest(1,
                   CAST(ceil(0.25 * n) AS BIGINT)) THEN v END) AS q25,
               max(CASE WHEN rn = greatest(1,
                   CAST(ceil(0.5 * n) AS BIGINT)) THEN v END) AS q50,
               max(CASE WHEN rn = greatest(1,
                   CAST(ceil(0.75 * n) AS BIGINT)) THEN v END) AS q75,
               max(CASE WHEN rn = greatest(1,
                   CAST(ceil(0.99 * n) AS BIGINT)) THEN v END) AS q99
        FROM pqp GROUP BY col
    ), pstats AS (
        SELECT 'doc_id' AS col, 'bigint' AS dtype,
               count(*) AS n_rows,
               count(*) - count(doc_id) AS n_nulls,
               round((count(*) - count(doc_id))
                     / CAST(count(*) AS DOUBLE), 6) AS null_frac,
               CAST(min(doc_id) AS VARCHAR) AS min_value,
               CAST(max(doc_id) AS VARCHAR) AS max_value,
               round(avg(CAST(doc_id AS DOUBLE)), 4) AS mean,
               round(stddev_samp(CAST(doc_id AS DOUBLE)), 4) AS stddev,
               CAST(NULL AS DOUBLE) AS avg_len
        FROM documents
        UNION ALL
        SELECT 'lang', 'string', count(*),
               count(*) - count(lang),
               round((count(*) - count(lang))
                     / CAST(count(*) AS DOUBLE), 6),
               min(lang), max(lang),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               round(avg(CAST(length(lang) AS DOUBLE)), 4)
        FROM documents
        UNION ALL
        SELECT 'n_chars', 'bigint', count(*),
               count(*) - count(n_chars),
               round((count(*) - count(n_chars))
                     / CAST(count(*) AS DOUBLE), 6),
               CAST(min(n_chars) AS VARCHAR),
               CAST(max(n_chars) AS VARCHAR),
               round(avg(CAST(n_chars AS DOUBLE)), 4),
               round(stddev_samp(CAST(n_chars AS DOUBLE)), 4),
               CAST(NULL AS DOUBLE)
        FROM documents
    )
    SELECT 'kmv' AS stage, "column", k_used, n_hashes, kth_hash,
           est_distinct,
           CAST(NULL AS VARCHAR) AS dtype,
           CAST(NULL AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT) AS n_nulls,
           CAST(NULL AS DOUBLE) AS null_frac,
           CAST(NULL AS DOUBLE) AS prof_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean,
           CAST(NULL AS DOUBLE) AS stddev,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS DOUBLE) AS q25,
           CAST(NULL AS DOUBLE) AS q50,
           CAST(NULL AS DOUBLE) AS q75,
           CAST(NULL AS DOUBLE) AS q99
    FROM kmv_rows
    UNION ALL
    SELECT 'profile', p.col,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           p.dtype, p.n_rows, p.n_nulls, p.null_frac,
           k.pd, p.min_value, p.max_value, p.mean, p.stddev, p.avg_len,
           q.q25, q.q50, q.q75, q.q99
    FROM pstats p
    JOIN kmv256 k USING (col)
    LEFT JOIN pq q USING (col)
    """,
)
def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketches (functions/sketches.py, Bar-Yossef
    et al. 2002) over events: user_id saturates k=64 (estimator
    branch), event_type stays unsaturated (exact branch) — both
    branches certified by one oracle.  Deterministic md5-60 hashing
    makes the k-th smallest hash and the integer-division estimate
    bit-reproducible in DuckDB.

    r12 'profile' stage: the one-pass corpus audit
    (functions/profile.py profile_corpus) over three documents columns
    — null accounting, stringified min/max envelopes, moments (rounded
    to 4dp; FP summation order differs across engines), string length,
    the k=256 KMV distinct estimates, AND exact quantiles via the r12
    quantile_mode='exact' tier (the ceil(q*n)-th order statistic from
    a shared rank+count window — deterministic, so the oracle replays
    it with the same rank CTE) — every number replayed in SQL.  The
    GK tier (percentile_approx) remains the mergeable 100 TB default
    and remains unreplayable, but the audit path no longer has ANY
    field outside the oracle."""
    from ..functions.profile import profile_corpus
    from ..functions.sketches import distinct_estimate

    ev = load(spark, sf_dir, "events")
    # r17: the KMV stage (events) and the profile stage (documents)
    # are independent eager driver computations over different tables
    # — overlap them from a driver pool (guide §2.6) so the profile's
    # three pooled jobs back-fill the KMV window job's tail
    from concurrent.futures import ThreadPoolExecutor

    docs = load(spark, sf_dir, "documents")
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_kmv = _pool.submit(
            distinct_estimate, ev, ["user_id", "event_type"], 64
        )
        _f_prof = _pool.submit(
            profile_corpus,
            docs.select("doc_id", "lang", "n_chars"),
            kmv_k=256,
            quantile_mode="exact",
        )
        kmv_raw = _f_kmv.result()
        prof_raw = _f_prof.result()
    kmv = kmv_raw.select(
        F.lit("kmv").alias("stage"),
        "column", "k_used", "n_hashes", "kth_hash", "est_distinct",
        F.lit(None).cast("string").alias("dtype"),
        F.lit(None).cast("bigint").alias("n_rows"),
        F.lit(None).cast("bigint").alias("n_nulls"),
        F.lit(None).cast("double").alias("null_frac"),
        F.lit(None).cast("double").alias("prof_distinct"),
        F.lit(None).cast("string").alias("min_value"),
        F.lit(None).cast("string").alias("max_value"),
        F.lit(None).cast("double").alias("mean"),
        F.lit(None).cast("double").alias("stddev"),
        F.lit(None).cast("double").alias("avg_len"),
        F.lit(None).cast("double").alias("q25"),
        F.lit(None).cast("double").alias("q50"),
        F.lit(None).cast("double").alias("q75"),
        F.lit(None).cast("double").alias("q99"),
    )
    prof = prof_raw.select(
        F.lit("profile").alias("stage"),
        "column",
        F.lit(None).cast("bigint").alias("k_used"),
        F.lit(None).cast("bigint").alias("n_hashes"),
        F.lit(None).cast("bigint").alias("kth_hash"),
        F.lit(None).cast("bigint").alias("est_distinct_kmv"),
        "dtype", "n_rows", "n_nulls",
        F.round("null_frac", 6).alias("null_frac"),
        F.col("est_distinct").alias("prof_distinct"),
        "min_value", "max_value",
        F.round("mean", 4).alias("mean"),
        F.round("stddev", 4).alias("stddev"),
        F.round("avg_len", 4).alias("avg_len"),
        F.element_at("quantiles", 1).alias("q25"),
        F.element_at("quantiles", 2).alias("q50"),
        F.element_at("quantiles", 3).alias("q75"),
        F.element_at("quantiles", 4).alias("q99"),
    ).withColumnRenamed("est_distinct_kmv", "est_distinct")
    return kmv.unionByName(prof)


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           round(value, 6) AS value
    FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/runner.py:stream_dedup):
    events unioned with a replayed 10% subset (the at-least-once
    ingestion duplicate shape), drained through
    ``dropDuplicatesWithinWatermark`` under an availableNow trigger —
    the output must equal the original events exactly, which is the
    oracle.  O(keys-in-horizon) state, no polling (self-terminating
    bounded replay, same discipline as stream_sessionize)."""
    import tempfile

    from ..streaming.runner import run_stream_bounded, stream_dedup

    batch = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    dup = batch.where(F.col("event_id") % 10 == 0)
    src_root = tempfile.mkdtemp(prefix="smashed_stream_dup_")
    src = src_root + "/events"
    batch.unionAll(dup).repartition(8).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = stream_dedup(stream, id_cols=("event_id",), watermark="2 hours")
    name = "smashed_stream_dedup"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        run_stream_bounded(out, name, timeout_seconds=900.0)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # the memory sink owns the rows once the bounded drain returns;
        # the parquet replay dir is dead weight — remove it so repeated
        # gate runs don't accumulate tmp data
        import shutil

        shutil.rmtree(src_root, ignore_errors=True)
    return spark.table(name).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
    )


@query(
    "pack_sequences",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_append(string_split(text, ' '), '<eod>') AS t
        FROM documents
    ), tok AS (
        SELECT doc_id, u.i, t[u.i + 1] AS tok
        FROM w, unnest(range(0, CAST(length(t) AS BIGINT))) AS u(i)
    ), pos AS (
        SELECT tok, doc_id,
               row_number() OVER (ORDER BY doc_id, i) - 1 AS p
        FROM tok
    )
    SELECT p // 128 AS block_id,
           count(*) AS n_tokens,
           count(DISTINCT doc_id) AS n_docs,
           to_json(list(tok ORDER BY p)) AS tokens
    FROM pos GROUP BY p // 128
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-block sequence packing (functions/packing.py): the corpus
    token stream in doc_id order, one ``<eod>`` separator per document,
    sliced into 128-token training blocks that cross document
    boundaries.  The prefix sum runs on a slim (key, count) projection
    (two ~16-byte/row shuffles); the wide token arrays cross exactly
    two exchanges (offset join + block agg).  Deterministic given the
    order key — which is what makes this oracle possible."""
    from ..functions.packing import PackSequencesMapper

    df = _words(spark, sf_dir)
    return PackSequencesMapper(
        tokens_field="words",
        order_by=["doc_id"],
        block_size=128,
        separator="<eod>",
    ).map(df)


# Last sf_dir the pack_bins GATE query packed (normpath), so the lazy
# oracle can refuse to replay the packing on a different corpus (same
# discipline as queries_scale._IVF_GATE_SF_DIR).
_PACK_BINS_GATE_SF_DIR: dict = {"dir": None}


def _pack_bins_sql(block_size: int, num_groups: int):
    """LAZY oracle builder for BinPackSequencesMapper (r6 — closes the
    last unit-only packer from the round-5 missing list).  The packing
    DECISIONS (which doc goes in which bin, in what order) come from a
    sequential first-fit-decreasing loop with no SQL form, but they are
    fully deterministic given (key, token-count) — so the oracle
    replays the mapper's algorithm driver-side in plain Python
    (hashlib md5 group assignment == the mapper's ``hash_fn="md5"``
    portable hash, same (-len, key) sort, same first-fit scan), embeds
    only the slim (doc_id, pack_id, ord, oversize) assignment as SQL
    literals, and lets DuckDB reassemble bin contents from the
    documents table — the replayed-decision analog of the IVF
    replayed-centroid oracle (queries_scale._ivf_topk_sql)."""

    def build() -> str:
        import hashlib
        import os

        import duckdb

        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        if _PACK_BINS_GATE_SF_DIR["dir"] not in (
            None,
            os.path.normpath(sf_dir),
        ):
            raise RuntimeError(
                "pack_bins oracle/gate sf_dir mismatch: the Spark gate "
                f"packed {_PACK_BINS_GATE_SF_DIR['dir']} but the oracle "
                f"would replay the packing on {sf_dir} (from "
                "SPARK_GRAFT_ORACLE_SF_DIR, default /root/testdata/"
                "sf0.01). Set SPARK_GRAFT_ORACLE_SF_DIR to the gate's "
                "sf dir — the bin assignment is per-corpus by "
                "construction."
            )
        con = duckdb.connect()
        rows = con.execute(
            "SELECT doc_id, len(string_split(text, ' ')) "
            f"FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
        con.close()
        # replay: portable md5 group hash, then FFD per group —
        # byte-for-byte the mapper's pack_group (functions/packing.py)
        groups: dict = {}
        for doc_id, n in rows:
            if n <= 0:
                continue
            gid = (
                int(
                    hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16
                )
                % num_groups
            )
            groups.setdefault(gid, []).append((doc_id, n))
        asg = []  # (doc_id, pack_id, ord_in_bin, oversize)
        for gid, docs in groups.items():
            docs.sort(key=lambda kv: (-kv[1], kv[0]))
            bins = []  # [tokens_so_far, oversize, next_ord]
            for k, n in docs:
                if n > block_size:
                    asg.append((k, gid * (1 << 40) + len(bins), 0, True))
                    bins.append([n, True, 1])
                    continue
                for i, b in enumerate(bins):
                    if not b[1] and b[0] + n <= block_size:
                        asg.append((k, gid * (1 << 40) + i, b[2], False))
                        b[0] += n
                        b[2] += 1
                        break
                else:
                    asg.append(
                        (k, gid * (1 << 40) + len(bins), 0, False)
                    )
                    bins.append([n, False, 1])
        vals = ",\n        ".join(
            f"({k}, {p}, {o}, {str(ov).upper()})" for k, p, o, ov in asg
        )
        return f"""
    WITH asg(doc_id, pack_id, ord, oversize) AS (VALUES
        {vals}),
    w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT a.pack_id,
           CAST(sum(len(w.toks)) AS BIGINT) AS n_tokens,
           count(*) AS n_docs,
           CAST(bool_or(a.oversize) AS INT) AS oversize,
           to_json(list(a.doc_id ORDER BY a.ord)) AS doc_ids,
           to_json(flatten(list(w.toks ORDER BY a.ord))) AS tokens
    FROM asg a JOIN w USING (doc_id)
    GROUP BY a.pack_id
    """

    return build


@query("pack_bins", oracle=_pack_bins_sql(256, 8))
def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document bin packing (functions/packing.py
    BinPackSequencesMapper): SFT-style first-fit-decreasing within
    deterministic hash groups — no document split, oversize docs
    isolated in flagged singleton bins.  ``hash_fn="md5"`` selects the
    engine-portable group hash so the driver-side Python replay in the
    oracle assigns bit-identical groups."""
    import os

    from ..functions.packing import BinPackSequencesMapper

    _PACK_BINS_GATE_SF_DIR["dir"] = os.path.normpath(sf_dir)
    out = BinPackSequencesMapper(
        tokens_field="words",
        key_field="doc_id",
        block_size=256,
        num_groups=8,
        hash_fn="md5",
    ).map(_words(spark, sf_dir))
    return out.select(
        "pack_id",
        "n_tokens",
        "n_docs",
        F.col("oversize").cast("int").alias("oversize"),
        "doc_ids",
        "tokens",
    )


# ---------------------------------------------------------------------------
# r13: the snapshot-table lifecycle (sources/snapshot.py + appends /
# envelope stats / file skipping) as a driver-gated query — the
# protocol's query-visible surface, oracle-replayed end to end.
# ---------------------------------------------------------------------------

# prune predicate for the skipping stage (inclusive n_chars >= bound);
# ~median of the documents n_chars distribution at every test SF, so
# rows survive AND files can skip at sf0.001 through sf0.1
_SNAP_PRUNE_LOWER = 320


# same import-time binding + claim discipline as _IO_ZDOCS_PATH above
# (the oracle string embeds this path)
_SNAP_STAGING_PATH = _bind_gate_dir(
    "SMASHED_SNAPSHOT_DIR", "smashed_snap_gate"
)


def _snapshot_lifecycle_oracle() -> str:
    """The whole lifecycle is deterministic arithmetic on `documents`:
    published thirds, MERGE-replaced (doc_id%10=5 take the re-crawl
    batch's values) and MERGE-inserted (shifted ids) rows, minus the
    forget list (doc_id%10=0), is the final row set; the
    incremental-changes stage is the second third, and the
    file-skipping accounting is replayed
    from the PHYSICAL parquet footers of the final (vacuumed-to-one-
    version) table via parquet_metadata() — the same footers the
    publish-time stats collector read, so a drift between manifest
    envelopes and file reality breaks the hash."""
    table = f"{_SNAP_STAGING_PATH}/table"
    return f"""
    WITH surv AS (
        SELECT doc_id, lang, n_chars, source,
               CASE WHEN doc_id % 3 = 2 THEN doc_id % 7
                    ELSE NULL END AS mark
        FROM documents
        WHERE doc_id % 10 NOT IN (0, 3, 5)
        UNION ALL
        SELECT doc_id, lang, n_chars + 100000,
               'upsert' AS source, doc_id % 7 AS mark
        FROM documents WHERE doc_id % 10 = 5
        UNION ALL
        SELECT doc_id + 10000000, lang, n_chars,
               'insert' AS source, CAST(-1 AS BIGINT) AS mark
        FROM documents WHERE doc_id % 10 = 7
    ), ch AS (
        SELECT CAST(count(*) AS BIGINT) AS changes_rows,
               CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS changes_sum
        FROM documents WHERE doc_id % 3 = 1
    ), fm AS (
        SELECT file_name, max(CAST(stats_max_value AS BIGINT)) AS mx
        FROM parquet_metadata('{table}/data/*/*.parquet')
        WHERE path_in_schema = 'n_chars'
        GROUP BY file_name
    ), pr AS (
        SELECT CAST(count(*) AS BIGINT) AS files_total,
               CAST(coalesce(sum(CASE WHEN mx >= {_SNAP_PRUNE_LOWER}
                                      THEN 1 END), 0) AS BIGINT)
                   AS files_kept
        FROM fm
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS final_rows FROM surv
    )
    SELECT s.doc_id, s.lang, s.n_chars, s.source, s.mark,
           ch.changes_rows, ch.changes_sum,
           pr.files_total, pr.files_kept,
           tot.final_rows
    FROM surv s CROSS JOIN ch CROSS JOIN pr CROSS JOIN tot
    WHERE s.n_chars >= {_SNAP_PRUNE_LOWER}
    """


@query("snapshot_lifecycle", oracle=_snapshot_lifecycle_oracle)
def q_snapshot_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The object-store table protocol (sources/snapshot.py), driven
    through a full lifecycle and value-certified end to end:

    1. the first third of `documents` (doc_id%3=0) lands through the
       STREAMING SINK's foreachBatch body (batch 0 publishes, with
       per-file envelope stats on (doc_id, n_chars));
    2. the second third (doc_id%3=1) APPENDS as batch 1 — O(new data),
       parent file entries riding the manifest verbatim — and batch 1
       is then REDELIVERED: the exactly-once watermark must make the
       replay a no-op, or the second third double-counts and every
       downstream value (and the oracle hash) breaks;
    3. incremental consumers read exactly the appended batch via
       read_snapshot_changes (count + doc_id checksum ride the result
       as literals);
    3b. (r14) the LAST third (doc_id%3=2) appends with
       ``evolve=True`` carrying a NEW column ``mark = doc_id % 7`` —
       the manifest mints a second schema generation, the earlier
       files' rows read back with a typed-NULL ``mark``, and the
       final aligned values are oracle-checked (the CASE tail);
    3c. (r15) a re-crawl batch MERGEs (``merge_snapshot``): every
       doc_id%10=5 row is REPLACED by the batch copy (n_chars bumped
       +100000, source='upsert', mark backfilled) and a shifted id
       set (doc_id%10=7, +10,000,000) INSERTS — matched rows take the
       batch value, unmatched insert, untouched survive; the row
       count is asserted exactly (updates replace 1:1, inserts add)
       and every surviving value is oracle-checked downstream;
    3d. (r15) a POSITIONAL merge-on-read delete (doc_id%10=3): the
       sidecar commit must rewrite ZERO data files (asserted against
       the manifest) while every read excludes the rows, then
       ``compact_snapshot`` APPLIES and CLEARS the sidecar (asserted
       empty) — the deleted rows must stay gone through the physical
       rewrite or the oracle hash breaks;
    4. GDPR forget-list rewrite (doc_id%10=0) as a new version — the
       file-scoped path, pruning on the doc_id envelopes across BOTH
       schema generations;
    5. optimize_snapshot Z-orders the survivors on (n_chars, doc_id),
       so file envelopes separate and skipping has something to skip
       (the rewrite also re-homogenizes every row under the evolved
       schema);
    6. vacuum to ONE version (drop_unpublished sweeps everything
       unreferenced), leaving only the optimized prefix under data/ —
       which is what lets the oracle glob the physical footers;
    7. read back with where=[n_chars >= bound]: the manifest-stats
       pruner picks files, Spark re-applies the predicate, and the
       kept/total accounting rides the result — DuckDB recomputes the
       SAME per-file verdicts from parquet_metadata(), certifying the
       publish-time stats collector against the physical footers.

    Every surviving row's values are oracle-checked (a ghost row, a
    lost append, an over-deletion, or a stats/footer drift each breaks
    row count or hash).  Empty part files (possible at tiny SF under
    repartitionByRange) are excluded from the accounting literals on
    both sides: the pruner proves them skippable from rows=0 while
    parquet_metadata has no row group to report for them.
    """
    import atexit
    import shutil

    from ..sources.snapshot import (
        apply_deletions_snapshot,
        list_snapshots,
        optimize_snapshot,
        plan_snapshot_scan,
        read_snapshot,
        read_snapshot_changes,
        resolve_snapshot,
        vacuum_snapshots,
    )

    _claim_gate_dir(_SNAP_STAGING_PATH, "SMASHED_SNAPSHOT_DIR")
    atexit.register(shutil.rmtree, _SNAP_STAGING_PATH, ignore_errors=True)
    table = f"{_SNAP_STAGING_PATH}/table"
    # a crashed earlier run's versions would shift allocation and
    # diverge from the oracle's glob — each build starts a fresh table
    shutil.rmtree(table, ignore_errors=True)

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    stats_cols = ["doc_id", "n_chars"]
    # the two ingest commits run through the streaming sink's
    # foreachBatch body (exactly-once watermark path), with batch 1
    # REDELIVERED — the replay must be a committed no-op or the final
    # row set (and the oracle hash with it) doubles the second third
    from ..streaming.snapshot_sink import (
        snapshot_batch_writer,
        stream_commit_watermark,
    )

    write_batch = snapshot_batch_writer(
        table, app_id="gate-ingest", stats_columns=stats_cols
    )
    write_batch(docs.filter(F.col("doc_id") % 3 == 0).repartition(4), 0)
    write_batch(docs.filter(F.col("doc_id") % 3 == 1).repartition(4), 1)
    write_batch(docs.filter(F.col("doc_id") % 3 == 1).repartition(4), 1)
    sink_app, sink_last = stream_commit_watermark(table)
    if (sink_app, sink_last) != ("gate-ingest", 1) or list_snapshots(
        table
    ) != [1, 2]:
        raise AssertionError(
            "snapshot_lifecycle: sink exactly-once contract broke — "
            f"watermark ({sink_app}, {sink_last}), versions "
            f"{list_snapshots(table)}"
        )
    changes = read_snapshot_changes(spark, table, since_version=1)
    ch = changes.agg(
        F.count("*").alias("changes_rows"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).alias("changes_sum"),
    ).collect()[0]
    # r14 evolution stage: the last third appends with a NEW column
    # under evolve=True — a second schema generation in the manifest;
    # rows already on disk read back with a typed-NULL mark
    from ..sources.snapshot import append_snapshot

    evolved = append_snapshot(
        docs.filter(F.col("doc_id") % 3 == 2)
        .withColumn("mark", (F.col("doc_id") % 7).cast("bigint"))
        .repartition(4),
        table,
        evolve=True,
        stats_columns=stats_cols,
    )
    if evolved.schema_id == "0" or "mark" not in (evolved.columns or {}):
        raise AssertionError(
            "snapshot_lifecycle: evolve append did not mint a new "
            f"schema generation (id {evolved.schema_id}, columns "
            f"{evolved.columns})"
        )
    # r15 upsert stage: the re-crawl MERGE — matched rows take the
    # batch value, unmatched insert, untouched rows/files survive
    from ..sources.snapshot import merge_snapshot

    upd = docs.filter(F.col("doc_id") % 10 == 5).select(
        "doc_id",
        "lang",
        (F.col("n_chars") + 100000).alias("n_chars"),
        F.lit("upsert").alias("source"),
        (F.col("doc_id") % 7).cast("bigint").alias("mark"),
    )
    ins = docs.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "lang",
        "n_chars",
        F.lit("insert").alias("source"),
        F.lit(-1).cast("bigint").alias("mark"),
    )
    n_upd, n_ins = upd.count(), ins.count()
    merged = merge_snapshot(
        spark,
        table,
        upd.unionByName(ins).repartition(4),
        "doc_id",
        stats_columns=stats_cols,
    )
    if merged.row_count != evolved.row_count + n_ins:
        raise AssertionError(
            "snapshot_lifecycle: merge row accounting broke — "
            f"{evolved.row_count} rows + {n_ins} inserts "
            f"(+{n_upd} 1:1 updates) != {merged.row_count}"
        )
    # r15 positional stage: merge-on-read delete of doc_id%10=3 (no
    # inserted id ends in 3 — inserts shift by 10M, preserving the
    # last digit 7 — and no update does either, so the forget set is
    # exactly the original rows), then compact applies + clears
    from ..sources.snapshot import compact_snapshot

    n_pos = docs.filter(F.col("doc_id") % 10 == 3).count()
    pos_info = apply_deletions_snapshot(
        spark,
        table,
        keys=docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"),
        key_field="doc_id",
        positional=True,
    )
    if not pos_info.delete_files or pos_info.row_count != (
        merged.row_count - n_pos
    ):
        raise AssertionError(
            "snapshot_lifecycle: positional delete accounting broke — "
            f"{merged.row_count} - {n_pos} != {pos_info.row_count} "
            f"(delete_files={pos_info.delete_files})"
        )
    if {f["path"] for f in pos_info.files} != {
        f["path"] for f in merged.files
    }:
        raise AssertionError(
            "snapshot_lifecycle: positional delete rewrote data files "
            "— the sidecar tier must carry every entry verbatim"
        )
    compacted = compact_snapshot(spark, table, stats_columns=stats_cols)
    if compacted.delete_files is not None or (
        compacted.row_count != pos_info.row_count
    ):
        raise AssertionError(
            "snapshot_lifecycle: compact did not apply+clear the "
            f"positional sidecar (delete_files="
            f"{compacted.delete_files}, rows {pos_info.row_count} -> "
            f"{compacted.row_count})"
        )
    apply_deletions_snapshot(
        spark,
        table,
        keys=docs.filter(F.col("doc_id") % 10 == 0).select("doc_id"),
        key_field="doc_id",
        stats_columns=stats_cols,
    )
    optimize_snapshot(
        spark,
        table,
        cluster_by=["n_chars", "doc_id"],
        bits=10,
        num_files=6,
        stats_columns=stats_cols,
    )
    vacuum_snapshots(table, keep_last=1, drop_unpublished=True)

    info = resolve_snapshot(table)
    where = [("n_chars", ">=", _SNAP_PRUNE_LOWER)]
    plan = plan_snapshot_scan(info, where)
    nonempty_total = sum(1 for f in info.files if f.get("rows"))
    # the final read goes through the pipeline-shape loader so the
    # mapper surface (root-column fan-in + where= pruning) is
    # oracle-certified, not just read_snapshot underneath it
    from ..sources.loaders import SnapshotLoaderMapper

    roots_df = spark.createDataFrame([(table,)], "root: string")
    out = SnapshotLoaderMapper("root", where=where).map(roots_df)
    return (
        out.withColumn(
            "changes_rows", F.lit(int(ch["changes_rows"])).cast("bigint")
        )
        .withColumn("changes_sum", F.lit(int(ch["changes_sum"])).cast("bigint"))
        .withColumn("files_total", F.lit(nonempty_total).cast("bigint"))
        .withColumn(
            "files_kept", F.lit(int(plan["files_kept"])).cast("bigint")
        )
        .withColumn("final_rows", F.lit(int(info.row_count)).cast("bigint"))
    )
