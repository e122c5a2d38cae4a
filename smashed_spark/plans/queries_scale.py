"""Gate queries for the beyond-reference block: dedup, similarity
search, text analysis, and relational analytics (SURVEY.md §2 "M6" /
BASELINE north star).

MinHash/SimHash oracle SQL is *generated* from the same coefficient
lists the Spark operators use (functions/hashing.py), so both engines
compute byte-identical signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_P, hash_coeffs
from .registry import _bind_gate_dir, _claim_gate_dir, load, query

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

_SHINGLES_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(0, greatest(len(words) - 2, 0)),
               i -> array_to_string(words[i + 1 : i + 3], ' '))) AS shingles
    FROM w
),
base AS (
    SELECT doc_id,
           list_transform(shingles,
               s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
    FROM sh
)
"""


_SIMHASH_BASE_SQL = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    base AS (
        SELECT doc_id,
               list_transform(words,
                   s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs0,
               list_transform(words,
                   s -> ('0x' || substr(md5(s), 9, 8))::BIGINT) AS hs1
        FROM w
    )
"""


def _simhash_terms(bits: int, hs: str = "hs0", weight_base: int = 0) -> str:
    """Per-bit sign-sum terms over the ``hs`` token-hash list, weighted
    into bit positions ``weight_base..weight_base+bits-1`` — mirrors
    functions/hashing.simhash exactly; fingerprints wider than 32 bits
    compose a second term block over the md5 digest's SECOND 32-bit
    word (``hs1``), matching SimHashMapper's hi*2^32+lo composition."""
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform({hs}, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {2 ** (b + weight_base)} ELSE 0 END)"
        for b in range(bits)
    )


def _simhash_expr(bits: int) -> str:
    if bits <= 32:
        return _simhash_terms(bits)
    if bits >= 64:
        raise ValueError("oracle composition supports bits < 64 (BIGINT)")
    return (
        _simhash_terms(32, "hs0", 0)
        + " + "
        + _simhash_terms(bits - 32, "hs1", 32)
    )


def _simhash_pairs_sql(bits: int, max_hamming: int) -> str:
    # emits both endpoints' full fingerprints alongside the Hamming
    # distance so SimHashMapper stays value-certified after the r6
    # fold of the standalone dedup_simhash gate into this one (same
    # cap-freeing pattern as round 5's minhash-signature fold)
    return (
        _SIMHASH_BASE_SQL
        + f"""
    , sig AS (SELECT doc_id,
              CAST({_simhash_expr(bits)} AS BIGINT) AS simhash FROM base)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
           a.simhash AS simhash_a, b.simhash AS simhash_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """
    )


_COS_SQL = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
)
"""


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    WITH g AS (
        SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        FROM documents GROUP BY text
    ), ded AS (
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
               g.dup_count
        FROM documents d JOIN g USING (doc_id)
    ), new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' EDITED'
                    ELSE text END AS text,
               lang, source,
               CASE WHEN doc_id % 5 = 0 THEN n_chars + 7
                    ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 1000000, text, lang, 'new_source', n_chars
        FROM documents WHERE doc_id % 13 = 0
    ), d AS (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN (o.lang IS NOT DISTINCT FROM n.lang)
                     AND (o.n_chars IS NOT DISTINCT FROM n.n_chars)
                     AND (o.source IS NOT DISTINCT FROM n.source)
                     AND (o.text IS NOT DISTINCT FROM n.text)
                        THEN 'unchanged'
                    ELSE 'changed' END AS diff_status,
               CASE WHEN o.doc_id IS NOT NULL
                     AND n.doc_id IS NOT NULL THEN
                    concat_ws(',',
                        CASE WHEN o.lang IS DISTINCT FROM n.lang
                             THEN 'lang' END,
                        CASE WHEN o.n_chars IS DISTINCT FROM n.n_chars
                             THEN 'n_chars' END,
                        CASE WHEN o.source IS DISTINCT FROM n.source
                             THEN 'source' END,
                        CASE WHEN o.text IS DISTINCT FROM n.text
                             THEN 'text' END)
                    ELSE '' END AS changed_str
        FROM documents o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT d.doc_id, d.diff_status, d.changed_str,
           ded.text, ded.lang, ded.source, ded.n_chars, ded.dup_count
    FROM d LEFT JOIN ded ON d.doc_id = ded.doc_id
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (md5-digest hash aggregate, keep first doc per
    content group) + since r11 the corpus snapshot diff
    (functions/diff.py) folded in: a derived v2 snapshot — every 7th
    doc removed, every 5th edited (text suffix + n_chars shift),
    every 13th re-added under a shifted id and a new source — is
    diffed against the corpus (full-outer join on doc_id, NULL-safe
    per-field comparison, sorted change attribution), and the
    dedup verdicts join onto the diff rows by key (added rows carry
    NULLs).  The oracle replays the diff with IS [NOT] DISTINCT FROM
    cases and concat_ws attribution."""
    from ..functions.dedup import ExactDedupMapper
    from ..functions.diff import corpus_diff

    # r16 opt probe: widening this one-task scan was tried and REVERTED
    # (0.87 -> 2.17 s): the gate is join-bound, not expression-bound —
    # the added exchange is recomputed under each of the three diff
    # branches and buys no parallel win (OPTIMIZATION_r16.md)
    docs = load(spark, sf_dir, "documents")
    deduped = ExactDedupMapper().map(docs)
    edited = F.col("doc_id") % 5 == 0
    new = (
        docs.where(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(edited, F.concat(F.col("text"), F.lit(" EDITED")))
            .otherwise(F.col("text"))
            .alias("text"),
            "lang",
            "source",
            F.when(edited, F.col("n_chars") + 7)
            .otherwise(F.col("n_chars"))
            .alias("n_chars"),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                "text",
                "lang",
                F.lit("new_source").alias("source"),
                "n_chars",
            )
        )
    )
    diff = corpus_diff(docs, new).select(
        "doc_id",
        "diff_status",
        F.array_join("changed_fields", ",").alias("changed_str"),
    )
    return diff.join(deduped, "doc_id", "left").select(
        "doc_id",
        "diff_status",
        "changed_str",
        "text",
        "lang",
        "source",
        "n_chars",
        "dup_count",
    )


def _lsh_pairs_sql(k: int, bands: int, rows: int) -> str:
    """Pairs plus both endpoints' full signatures — the r6 fold of the
    former standalone ``dedup_minhash_sig`` gate into this one (cap
    space for ``pack_bins``): the signature arrays are certified
    value-for-value on every pair endpoint, and every document's
    signature still feeds the band keys that decide the pair set."""
    return _lsh_pairs_cte(k, bands, rows) + """
    SELECT p.id_a, p.id_b,
           to_json(sa.minhash) AS minhash_a,
           to_json(sb.minhash) AS minhash_b
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    """


def _lsh_pairs_cte(k: int, bands: int, rows: int) -> str:
    """Shared CTE chain ending in ``pairs(id_a, id_b)`` — the LSH pair
    query itself, reused verbatim by the dedup_clusters oracle so both
    gates certify the SAME candidate graph."""
    slots = ",\n        ".join(
        f"coalesce(list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE_P})), {MERSENNE_P})"
        for a, b in hash_coeffs(k)
    )
    return (
        _SHINGLES_SQL
        + f""", sig AS (SELECT doc_id, [{slots}] AS minhash FROM base),
    bands AS (
        SELECT doc_id, b,
               md5(array_to_string(
                   minhash[b * {rows} + 1 : b * {rows} + {rows}], ',')) AS bkey
        FROM sig, UNNEST(range(0, {bands})) AS t(b)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
            AND a.doc_id < b.doc_id
    )"""
    )


def _dedup_clusters_sql(k: int, bands: int, rows: int) -> str:
    """LSH pairs -> connected components -> per-doc (cluster, keeper).
    The closure is a recursive CTE (fine at oracle scale: tens of
    pairs); the Spark side runs the O(log n) pointer-jumped iteration
    that survives corpus scale."""
    cte = _lsh_pairs_cte(k, bands, rows).replace(
        "WITH", "WITH RECURSIVE", 1
    )
    return (
        cte
        + """,
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
        SELECT u AS doc_id, least(u, min(v)) AS comp
        FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           coalesce(l.comp, d.doc_id) AS cluster_id,
           CAST(coalesce(l.comp, d.doc_id) = d.doc_id AS INT) AS is_kept
    FROM documents d LEFT JOIN labels l USING (doc_id)
    """
    )


@query("dedup_lsh_pairs", oracle=_lsh_pairs_sql(16, 4, 4))
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (16 hashes, 4 bands x 4 rows):
    explode band buckets, bucket-equi-join — O(docs x bands).

    r6: also emits both endpoints' full minhash signatures (the former
    standalone ``dedup_minhash_sig`` gate folded in — MinHashMapper's
    output is certified value-for-value here, freeing a slot under the
    50-query cap for ``pack_bins``)."""
    from ..core.parallel import ensure_min_parallelism
    from ..functions.dedup import MinHashLSHPairsMapper, MinHashMapper

    # r16 opt: single-row-group scan -> one task; spread the shingle/
    # minhash expression work across cores (guide §2.5)
    df = ensure_min_parallelism(
        load(spark, sf_dir, "documents")
    ).withColumn("words", F.split("text", " "))
    sig = MinHashMapper(num_hashes=16).map(df)
    # carry_signatures emits minhash_a/minhash_b straight from the
    # banded shuffle (r6) — no post-joins
    return MinHashLSHPairsMapper(
        "doc_id", bands=4, rows_per_band=4, carry_signatures=True
    ).map(sig).select("id_a", "id_b", "minhash_a", "minhash_b")


@query("dedup_clusters", oracle=_dedup_clusters_sql(16, 4, 4))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup (round 5): the same MinHash-LSH pair
    graph as ``dedup_lsh_pairs``, clustered with pointer-jumped
    connected components (functions/graph.py), every document labeled
    with its cluster's canonical keeper.  The DuckDB oracle replays
    the pair graph and closes it with a recursive CTE."""
    from ..core.parallel import ensure_min_parallelism
    from ..functions.dedup import MinHashLSHPairsMapper, MinHashMapper
    from ..functions.graph import DedupClustersMapper

    docs = load(spark, sf_dir, "documents")
    # r16 opt: widen the one-task scan before the minhash pass
    # (guide §2.5); the cluster labels are pure functions of the pair
    # graph, not of partitioning
    pairs = (
        MinHashMapper(num_hashes=16)
        >> MinHashLSHPairsMapper("doc_id", bands=4, rows_per_band=4)
    ).map(
        ensure_min_parallelism(docs).withColumn(
            "words", F.split("text", " ")
        )
    )
    out = DedupClustersMapper(pairs).map(docs.select("doc_id"))
    return out.select("doc_id", "cluster_id", "is_kept")


# r6: the standalone dedup_simhash gate (SimHashMapper fingerprints,
# formerly certified at 16 bits via _simhash_sql) folded into
# dedup_simhash_pairs, which emits both endpoints' full fingerprints
# (56-bit since the band-occupancy move below) — freeing a registry
# slot for semantic_dedup under the 50-query cap while keeping
# SimHashMapper value-certified, wide two-word composition included.
@query("dedup_simhash_pairs", oracle=_simhash_pairs_sql(56, 3))
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 (Manku et al.
    2007 banding): band equi-join + bit_count verify, EXACT by
    pigeonhole, so the oracle's direct all-pairs join over the same
    fingerprints produces the identical pair set.  r6: 56-bit
    fingerprints (14-bit bands) — the production band-occupancy
    regime (buckets stay tiny into the millions of docs; the former
    32-bit setting put ~200 docs in every 8-bit bucket at sf1 and the
    gate was timing ~5M random band collisions, not the operator),
    and the widest width whose two-word md5 composition stays inside
    DuckDB's signed BIGINT for oracle parity.  Both endpoints'
    fingerprints ride along (folded dedup_simhash gate)."""
    from ..core.parallel import ensure_min_parallelism
    from ..functions.dedup import SimHashMapper, SimHashNearDupPairsMapper

    # r16 opt: widen the one-task scan before the per-token simhash
    # fold (guide §2.5)
    df = ensure_min_parallelism(
        load(spark, sf_dir, "documents")
    ).withColumn("words", F.split("text", " "))
    sig = SimHashMapper(bits=56).map(df).select("doc_id", "simhash")
    # emit_fingerprints rides the banded shuffle the Hamming verify
    # already pays for; a noop-action same-session A/B (r6) measures
    # it at parity with broadcast post-joins, so take the simpler plan
    return SimHashNearDupPairsMapper(
        "doc_id", bits=56, max_hamming=3, emit_fingerprints=True
    ).map(sig)


@query(
    "dedup_ngram_jaccard",
    oracle=_SHINGLES_SQL
    + """
    , inv0 AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    inv AS (SELECT i.* FROM inv0 i
            JOIN (SELECT s, count(*) AS f FROM inv0 GROUP BY s) q ON i.s = q.s
            WHERE q.f <= 1024)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(count(*)::DOUBLE /
                 (any_value(a.n) + any_value(b.n) - count(*)), 6) AS jaccard
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING jaccard >= 0.2
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs >= 0.2 via shingle inverted index,
    hub shingles capped at the mapper's (safe) default frequency —
    mirrored in the oracle's ``f <= 1024`` filter."""
    from ..functions.dedup import NGramJaccardPairsMapper

    # r16 opt probe: widening this scan was tried and REVERTED
    # (4.14 -> 4.48 s): the inverted-index explode immediately
    # exchanges on the shingle key, so the extra exchange buys nothing
    # (OPTIMIZATION_r16.md)
    df = load(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    return NGramJaccardPairsMapper(
        "doc_id", threshold=0.2, max_shingle_freq=1024
    ).map(df)


@query(
    "embedding_near_dup",
    oracle=_COS_SQL
    + """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))), 6) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) *
           sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.35)."""
    from ..functions.dedup import EmbeddingNearDupPairsMapper

    return EmbeddingNearDupPairsMapper(threshold=0.35, dims=64).map(
        load(spark, sf_dir, "embeddings")
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "ann_cosine_topk",
    oracle=_COS_SQL
    + """
    , scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM e a JOIN e b ON b.vec_id != a.vec_id
        WHERE a.vec_id < 20
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 20 query vectors; ranking
    over *rounded* similarity so ordering is engine-stable."""
    from ..functions.similarity import CosineTopK

    # r16 scan-widen probe REVERTED: 0.51 -> 1.04 s min-of-7 — the
    # broadcast-BLAS pass is too cheap here to amortize the exchange,
    # which recomputes under the query/corpus branches.  Don't re-try.
    out = CosineTopK(k=5, queries_filter="vec_id < 20").map(
        load(spark, sf_dir, "embeddings")
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _lsh_topk_sql(k: int, num_bits: int, num_tables: int, dims: int) -> str:
    """Oracle for HyperplaneLSHTopK: the hyperplanes are deterministic
    md5-derived literals (similarity.py:_hyperplane), so the oracle
    embeds the exact same plane vectors and mirrors signature ->
    bucket-join -> exact-cosine rerank in pure SQL."""
    from ..functions.similarity import _hyperplane

    def plane_lit(t: int, b: int) -> str:
        return (
            "[" + ", ".join(repr(c) for c in _hyperplane(t, b, dims)) + "]"
        )

    table_selects = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, v, {t} AS tbl, ("
        + " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane_lit(t, b)}) >= 0 "
            f"THEN {2 ** b} ELSE 0 END)"
            for b in range(num_bits)
        )
        + ") AS bucket FROM e"
        for t in range(num_tables)
    )
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sig AS (
    {table_selects}
    ),
    cand AS (
        SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
        FROM sig l JOIN sig r ON l.tbl = r.tbl AND l.bucket = r.bucket
        WHERE l.vec_id < 20 AND r.vec_id != l.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM cand JOIN e a ON a.vec_id = cand.query_id
                  JOIN e b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@query("ann_lsh_topk", oracle=_lsh_topk_sql(5, 6, 4, 64))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (the 100 TB path).  Deterministic
    given the md5-seeded hyperplanes, so fully oracle-checked (the
    oracle replays the same planes); recall vs CosineTopK is pinned by
    a separate unit test."""
    from ..functions.similarity import HyperplaneLSHTopK

    out = HyperplaneLSHTopK(
        k=5, num_bits=6, num_tables=4, queries_filter="vec_id < 20",
        dims=64,  # known testdata width: skips the one-row probe job
    ).map(
        load(spark, sf_dir, "embeddings")
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# r7: deterministic md5-derived weights for the model-based quality
# scorer fold — the SAME list feeds the Spark mapper and the SQL
# literal below, so both engines score bit-for-bit
_MODELQ_DIMS = 256
_MODELQ_BIAS = 0.1


def _modelq_weights() -> list:
    import hashlib

    return [
        (int(hashlib.md5(f"w{i}".encode()).hexdigest()[:8], 16) % 2001
         - 1000) / 1000.0
        for i in range(_MODELQ_DIMS)
    ]


_MODELQ_CTE = (
    """, mqw AS (SELECT ["""
    + ", ".join(repr(w) for w in _modelq_weights())
    + f"""] AS wl),
    mq AS (
        SELECT doc_id,
               1 / (1 + exp(-({_MODELQ_BIAS} +
                   list_sum(list_transform(string_split(text, ' '),
                       w -> wl[('0x' || substr(md5(lower(w)), 1, 8))
                               ::BIGINT % {_MODELQ_DIMS} + 1]))
                   / greatest(len(string_split(text, ' ')), 1))))
                   AS model_q_score
        FROM documents, mqw
    )
"""
)


# the gate's persisted BPE merge table: the oracle string embeds this
# path, and DuckDB reads the file AFTER the Spark side has fit and saved
# it (oracles execute after their query in the driver's compare)
_BPE_STAGE_PATH = _bind_gate_dir("SMASHED_BPE_DIR", "smashed_bpe_gate")

# one fit per (process, sf_dir): the merge table is deterministic for
# a given corpus, so bench reps and repeated gate invocations reuse it
# — the artifact on disk is re-saved only when the corpus changes
# (the oracle reads it AFTER each query run, so the path always holds
# the merges matching the last-queried sf_dir)
_BPE_MERGES_CACHE: dict = {}


def _bpe_gate_merges(spark, sf_dir: str, bpe_words):
    import atexit
    import shutil

    from ..functions.bpe import fit_bpe_merges, save_bpe_merges
    from .registry import load

    merges = _BPE_MERGES_CACHE.get(sf_dir)
    if merges is None:
        _claim_gate_dir(_BPE_STAGE_PATH, "SMASHED_BPE_DIR")
        if not _BPE_MERGES_CACHE:
            atexit.register(
                shutil.rmtree, _BPE_STAGE_PATH, ignore_errors=True
            )
        # fit from the RAW table (a narrow scan), not the assembled
        # pipeline — the fit is an eager action and would otherwise
        # compute the whole stats plan once here and again at collect
        merges = fit_bpe_merges(
            load(spark, sf_dir, "documents").select(
                bpe_words.alias("bpe_words")
            ),
            "bpe_words",
            num_merges=64,
        )
        _BPE_MERGES_CACHE[sf_dir] = merges
    # the artifact on disk must hold THIS sf_dir's merges when the
    # oracle replays it after the query — re-save on corpus switches
    # (cheap: one small json), skip on the rep-loop hot path
    if _BPE_MERGES_CACHE.get("__on_disk__") != sf_dir:
        save_bpe_merges(merges, _BPE_STAGE_PATH)
        _BPE_MERGES_CACHE["__on_disk__"] = sf_dir
    return merges


# one spherical-kmeans fit per (process, sf_dir, params) — the r17
# extension of the sanctioned BPE pattern above (r16 VERDICT item 8):
# the fit is deterministic for a given corpus (hash-ordered bounded
# sample + seeded numpy Lloyd — fit_centroids_sampled's contract), so
# bench reps and sibling gates sharing parameters reuse ONE fit
# instead of re-collecting the sample every invocation.  Pricing
# change and oracle-parity note recorded in PLANS.md (r17 section):
# bench reps 2+ skip the fit's TakeOrderedAndProject collect; the
# oracles are unaffected (they replay the fit from the parquet
# themselves, and the cached matrix is the bit-identical object the
# uncached call would return).
_CENTROID_FIT_CACHE: dict = {}


def _gate_centroids(
    spark, sf_dir: str, n_centroids: int, seed: int, max_iter: int,
    fit_sample: int,
):
    import os

    from ..functions.similarity import fit_centroids_sampled

    key = (
        os.path.normpath(sf_dir), n_centroids, seed, max_iter, fit_sample
    )
    cents = _CENTROID_FIT_CACHE.get(key)
    if cents is None:
        base = load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("__id__"),
            F.transform(
                "embedding", lambda x: x.cast("double")
            ).alias("__v__"),
        )
        cents = fit_centroids_sampled(
            base, n_centroids, seed, max_iter, fit_sample
        )
        _CENTROID_FIT_CACHE[key] = cents
    return cents

# Replay the greedy BPE encode (functions/bpe.py bpe_encode_word) in
# pure SQL: per word, repeatedly merge the LOWEST-RANK adjacent pair
# (first position wins rank ties — the min_by key is rank*1e6 + i),
# one merge per recursion level; a word's final state is its shortest
# accumulated symbol list.  The merge table is the artifact the gate
# just fit and saved — the same certify-from-the-artifact pattern as
# the snapshot gate's parquet_metadata() accounting.
_BPE_CTE = f"""
    , mr AS (
        SELECT i - 1 AS rnk,
               merges[i][1] || chr(0) || merges[i][2] AS pair
        FROM read_json('{_BPE_STAGE_PATH}/merges.json',
             columns={{'format_version': 'BIGINT', 'eow': 'VARCHAR',
                       'num_merges': 'BIGINT',
                       'merges': 'VARCHAR[][]'}}),
             unnest(range(1, len(merges)+1)) AS t(i)
    ), bocc AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_filter(
                         string_split_regex(text, '\\s+'),
                         x -> x != '')) AS w
              FROM documents)
        GROUP BY doc_id, w
    ), bdw AS (
        SELECT DISTINCT w FROM bocc
    ), benc AS (
        SELECT w, list_append(regexp_extract_all(w, '.'), '</w>')
                   AS syms
        FROM bdw
        UNION ALL
        SELECT w, list_concat(syms[1:bi-1],
                   list_concat([syms[bi] || syms[bi+1]], syms[bi+2:]))
        FROM (
            SELECT e.w, e.syms,
                   min_by(t.i, mr.rnk * 1000000 + t.i) AS bi
            FROM benc e, unnest(range(1, len(e.syms))) AS t(i)
            JOIN mr ON mr.pair = e.syms[t.i] || chr(0)
                                 || e.syms[t.i+1]
            GROUP BY e.w, e.syms
        )
    ), bfin AS (
        SELECT w, min(len(syms)) AS ntok FROM benc GROUP BY w
    ), bpe AS (
        SELECT o.doc_id, sum(o.c * f.ntok)::BIGINT AS n_bpe_learned
        FROM bocc o JOIN bfin f ON o.w = f.w GROUP BY o.doc_id
    )
"""


@query(
    "text_stats",
    oracle="""
    WITH RECURSIVE n AS (
        SELECT doc_id,
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
        FROM documents
    ), q AS (
        SELECT doc_id, text,
               length(text) AS n_chars,
               len(string_split(text, ' ')) AS n_words,
               length(regexp_replace(text, '[A-Za-z\\s]', '', 'g')) AS non_alpha
        FROM documents
    ), p AS (
        SELECT doc_id, ' ' || text || ' ' AS t FROM documents
    ), s AS (
        SELECT doc_id,
            (length(t) - length(replace(t, ' der ', ''))) // 5
          + (length(t) - length(replace(t, ' die ', ''))) // 5
          + (length(t) - length(replace(t, ' und ', ''))) // 5
          + (length(t) - length(replace(t, ' das ', ''))) // 5 AS s_de,
            (length(t) - length(replace(t, ' the ', ''))) // 5
          + (length(t) - length(replace(t, ' and ', ''))) // 5
          + (length(t) - length(replace(t, ' of ', ''))) // 4
          + (length(t) - length(replace(t, ' is ', ''))) // 4 AS s_en,
            (length(t) - length(replace(t, ' el ', ''))) // 4
          + (length(t) - length(replace(t, ' la ', ''))) // 4
          + (length(t) - length(replace(t, ' de ', ''))) // 4
          + (length(t) - length(replace(t, ' que ', ''))) // 5 AS s_es,
            (length(t) - length(replace(t, ' le ', ''))) // 4
          + (length(t) - length(replace(t, ' la ', ''))) // 4
          + (length(t) - length(replace(t, ' et ', ''))) // 4
          + (length(t) - length(replace(t, ' les ', ''))) // 5 AS s_fr
        FROM p
    ), rw AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), rg AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(words)), i -> words[i] || ' ' || words[i+1]
               )) AS gram
        FROM rw WHERE len(words) >= 2
    ), rc AS (
        SELECT doc_id, gram, count(*) AS c FROM rg GROUP BY doc_id, gram
    ), rep AS (
        SELECT doc_id, sum(c) AS n2,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
               max(c) AS top
        FROM rc GROUP BY doc_id
    ), gw AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           w -> w != '') AS ws,
               string_split(text, chr(10)) AS lns,
               text AS tx
        FROM documents
    ), gr AS (
        SELECT doc_id,
          len(ws) AS nw,
          CASE WHEN len(ws) > 0 THEN
            list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws)
            ELSE 0.0 END AS mean_len,
          len(list_filter(lns, l -> regexp_matches(trim(l), '^[*\\-•]')))
            ::DOUBLE / len(lns) AS bullet_frac,
          len(list_filter(lns, l -> regexp_matches(trim(l),
                                                   '(\\.\\.\\.|…)$')))
            ::DOUBLE / len(lns) AS ell_frac,
          CASE WHEN len(ws) > 0 THEN
            len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
              ::DOUBLE / len(ws) ELSE 0.0 END AS alpha_frac,
          CASE WHEN len(ws) > 0 THEN
            ((length(tx) - length(replace(tx, '#', '')))
             + (length(tx) - length(replace(tx, '...', ''))) / 3)
              ::DOUBLE / len(ws)
            ELSE 0.0 END AS sym_ratio
        FROM gw
    ), gv AS (
        SELECT doc_id,
          CASE WHEN nw < 50 THEN 'too_few_words'
               WHEN nw > 100000 THEN 'too_many_words'
               WHEN mean_len < 3.0 THEN 'mean_word_len_low'
               WHEN mean_len > 10.0 THEN 'mean_word_len_high'
               WHEN bullet_frac > 0.9 THEN 'bullet_lines'
               WHEN ell_frac > 0.3 THEN 'ellipsis_lines'
               WHEN alpha_frac < 0.8 THEN 'non_alpha_words'
               WHEN sym_ratio > 0.1 THEN 'symbol_ratio'
               ELSE '' END AS gopher_reason
        FROM gr
    )"""
    + _MODELQ_CTE
    + _BPE_CTE
    + """
    , thr AS (
        SELECT source,
               max(CASE WHEN rn = k THEN sc END) AS src_threshold
        FROM (
            SELECT d.source, mq.model_q_score AS sc,
                   ROW_NUMBER() OVER (PARTITION BY d.source
                                      ORDER BY mq.model_q_score DESC) AS rn,
                   greatest(1, CAST(ceil(
                       0.5 * COUNT(mq.model_q_score) OVER (PARTITION BY d.source)
                       - 1e-9) AS BIGINT)) AS k
            FROM documents d JOIN mq ON d.doc_id = mq.doc_id
        ) GROUP BY source
    )
    SELECT d.doc_id,
           len(list_filter(string_split_regex(d.text, '\\s+'), t -> t != ''))
               ::BIGINT AS n_ws_tokens,
           len(regexp_extract_all(d.text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]'))
               ::BIGINT AS n_bpe_tokens,
           md5(n.norm) AS fingerprint,
           list_min(list_transform(
               range(1, greatest(length(n.norm) - 6, 1)),
               i -> ('0x' || substr(md5(substr(n.norm, i, 8)), 1, 8))::BIGINT))
               AS min_kgram_hash,
           q.n_chars::BIGINT AS q_n_chars,
           q.n_words::BIGINT AS q_n_words,
           round((q.n_chars - q.n_words + 1)::DOUBLE / q.n_words, 6)
               AS q_mean_word_len,
           round(q.non_alpha::DOUBLE / q.n_chars, 6) AS q_non_alpha_ratio,
           CASE WHEN greatest(s.s_de, s.s_en, s.s_es, s.s_fr) = 0 THEN 'und'
                WHEN s.s_fr >= s.s_es AND s.s_fr >= s.s_en
                     AND s.s_fr >= s.s_de THEN 'fr'
                WHEN s.s_es >= s.s_en AND s.s_es >= s.s_de THEN 'es'
                WHEN s.s_en >= s.s_de THEN 'en'
                ELSE 'de' END AS lang_pred,
           CASE WHEN len(rw.words) > 0 THEN
               round((len(rw.words) - len(list_distinct(rw.words)))::DOUBLE
                     / len(rw.words), 6)
               ELSE 0.0 END AS rep_dup_word_frac,
           coalesce(rep.n2, 0)::BIGINT AS rep_n_2grams,
           coalesce(round(rep.dup::DOUBLE / rep.n2, 6), 0.0)
               AS rep_dup_2gram_frac,
           coalesce(rep.top, 0)::BIGINT AS rep_top_2gram_count,
           gv.gopher_reason,
           CAST(gv.gopher_reason = '' AS INT) AS gopher_keep,
           mq.model_q_score,
           thr.src_threshold,
           CAST(mq.model_q_score >= thr.src_threshold AS INT) AS q_keep,
           coalesce(bpe.n_bpe_learned, 0)::BIGINT AS n_bpe_learned
    FROM documents d
    JOIN n ON d.doc_id = n.doc_id
    JOIN q ON d.doc_id = q.doc_id
    JOIN s ON d.doc_id = s.doc_id
    JOIN rw ON d.doc_id = rw.doc_id
    LEFT JOIN rep ON d.doc_id = rep.doc_id
    JOIN gv ON d.doc_id = gv.doc_id
    JOIN mq ON d.doc_id = mq.doc_id
    JOIN thr ON d.source = thr.source
    LEFT JOIN bpe ON d.doc_id = bpe.doc_id
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole text-analysis family: TokenCountMapper,
    FingerprintMapper, QualityScoreMapper, and LangIdMapper chained —
    all pure column expressions, one narrow pass over documents — plus
    RepetitionStatsMapper (Gopher repetition signals), whose 2-gram
    aggregation adds the family's only shuffle (keyed on (doc_id,
    gram): partial-agg friendly, skew-free).  Spark's langid argmax is
    greatest(struct(score, lang)) — ties break toward the later
    language name, mirrored in the oracle's CASE ordering."""
    from ..functions.cleaning import GopherQualityFilterMapper
    from ..functions.textstats import (
        FingerprintMapper,
        LangIdMapper,
        QualityScoreMapper,
        RepetitionStatsMapper,
        TokenCountMapper,
    )

    pipe = (
        TokenCountMapper()
        >> FingerprintMapper(hash_fn="md5")  # md5: oracle parity
        >> QualityScoreMapper()
        >> LangIdMapper()
        >> RepetitionStatsMapper()
        # r6 fold: the canned Gopher quality verdict joins the family
        # composite (C4CleanMapper stays unit-only: this corpus has no
        # terminal-punctuated lines, so a driver gate would certify
        # constant columns — the crafted-fixture replay oracle in
        # test_cleaning is the stronger check there)
        >> GopherQualityFilterMapper()
    )
    # r16 opt: the corpus scans as ONE task (single-row-group file) and
    # this family is per-row expression work (the md5 k-gram sketch
    # alone is ~3 s single-core at sf0.1) — spread it across the
    # session's cores before the heavy mappers (guide §2.5, measured
    # 6.5x on the fingerprint stage; values are partitioning-independent
    # — every column is a pure function of the row or of keyed
    # aggregates)
    from ..core.parallel import ensure_min_parallelism

    out = pipe.map(
        ensure_min_parallelism(load(spark, sf_dir, "documents"))
    )
    # r7 fold: the model-based quality scorer (hashed-BoW linear
    # classifier, narrow aggregate fold) joins the family — weights
    # deterministically md5-derived so the oracle replays bit-for-bit
    from ..functions.classifier import LinearQualityClassifierMapper

    out = LinearQualityClassifierMapper(
        _modelq_weights(), bias=_MODELQ_BIAS
    ).map(out.withColumn("words", F.split("text", " ")))
    # r9 fold: per-source quality-threshold calibration (exact tier —
    # k-th-largest model_q_score per source at retain=0.5; the approx
    # percentile_approx tier is the 100 TB path, unit-tested) joins
    # the family: the standard "keep the best X% per source" cut
    from ..functions.calibrate import select_top_fraction

    out = select_top_fraction(
        out,
        "model_q_score",
        0.5,
        by="source",
        exact=True,
        keep_field="q_keep",
        threshold_field="src_threshold",
    )
    # r15 fold: the LEARNED-BPE token accounting (functions/bpe.py) —
    # fit 64 merge rules on the corpus (one bounded word-type
    # exchange + a driver merge loop), persist the merge table next
    # to the gate, and count tokens in one Arrow pass.  The oracle
    # replays the greedy encode from the SAVED artifact via a
    # recursive CTE, so the counts are value-checked bit-for-bit;
    # fit determinism itself is unit-pinned (test_bpe).
    from ..functions.bpe import BpeTokenCountMapper

    bpe_words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    # r16 (r15-VERDICT ask #8): fit ONCE per process per sf_dir —
    # the persisted-centroid pattern the IVF/diversity gates use.
    # Bench reps re-invoke the query body; refitting an identical
    # deterministic artifact per rep priced the gate's top line at
    # fit-cost × reps while certifying nothing the first fit hadn't.
    merges = _bpe_gate_merges(spark, sf_dir, bpe_words)
    out = BpeTokenCountMapper(
        merges, "bpe_words", "n_bpe_learned"
    ).map(out.withColumn("bpe_words", bpe_words))
    return out.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        "fingerprint",
        "min_kgram_hash",
        "q_n_chars",
        "q_n_words",
        "q_mean_word_len",
        "q_non_alpha_ratio",
        "lang_pred",
        "rep_dup_word_frac",
        "rep_n_2grams",
        "rep_dup_2gram_frac",
        "rep_top_2gram_count",
        "gopher_reason",
        "gopher_keep",
        "model_q_score",
        "src_threshold",
        "q_keep",
        "n_bpe_learned",
    )


_DSIR_DIMS = 512
_DSIR_K = 200
_DSIR_GROUP_K = 20
_DSIR_SEED = 13
# r14 fold: per-source greedy token budgets for (src1, src7) — two
# sources keep both the independence and the keep=0 branches live
# while paying two (not three) prefix-sum materializations
_BUDGETS = (4000, 3000)


@query(
    "dsir_select",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS wd
        FROM documents
    ), wb AS (
        SELECT doc_id,
               ('0x' || substr(md5(lower(wd)), 1, 8))::BIGINT
                   % {_DSIR_DIMS} AS b
        FROM w
    ), tgt AS (
        SELECT wb.b, count(*) AS c
        FROM wb JOIN documents d USING (doc_id)
        WHERE d.n_chars >= 400 GROUP BY wb.b
    ), tt AS (SELECT sum(c) AS total FROM tgt
    ), rawc AS (
        SELECT b, count(*) AS c FROM wb GROUP BY b
    ), rt AS (SELECT sum(c) AS total FROM rawc
    ), logw AS (
        SELECT wb.doc_id,
               sum(ln((coalesce(t.c, 0) + 1.0)
                      / (tt.total + {_DSIR_DIMS}.0))
                 - ln((coalesce(r.c, 0) + 1.0)
                      / (rt.total + {_DSIR_DIMS}.0))) AS lw
        FROM wb
        LEFT JOIN tgt t ON wb.b = t.b
        LEFT JOIN rawc r ON wb.b = r.b, tt, rt
        GROUP BY wb.doc_id
    ), keyed AS (
        SELECT d.doc_id, d.source, coalesce(l.lw, 0.0) AS lw,
               coalesce(l.lw, 0.0)
               - ln(-ln((('0x' || substr(md5(d.doc_id::VARCHAR
                                             || ':{_DSIR_SEED}'), 1, 8))
                             ::BIGINT + 0.5) / 4294967296.0)) AS k
        FROM documents d LEFT JOIN logw l USING (doc_id)
    )
    SELECT 'global' AS stage, doc_id, round(lw, 6) AS dsir_logw
    FROM (SELECT doc_id, lw FROM keyed
          ORDER BY k DESC, doc_id LIMIT {_DSIR_K})
    UNION ALL
    SELECT 'grouped' AS stage, doc_id, round(lw, 6) AS dsir_logw
    FROM (
        SELECT doc_id, lw, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY k DESC, doc_id) AS rn
        FROM keyed
    ) WHERE rn <= {_DSIR_GROUP_K}
    UNION ALL
    -- r14: per-source greedy token budgets — a doc is kept iff the
    -- EXCLUSIVE prefix sum of n_chars before it WITHIN ITS SOURCE
    -- (n_chars desc, doc_id tiebreak) is under that source's budget;
    -- sources without a budget entry never appear
    SELECT 'budget' AS stage, doc_id,
           round(CAST(n_chars AS DOUBLE), 6) AS dsir_logw
    FROM (
        SELECT doc_id, n_chars, source,
               coalesce(sum(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS pre
        FROM documents WHERE source IN ('src1', 'src7')
    )
    WHERE (source = 'src1' AND pre < {_BUDGETS[0]})
       OR (source = 'src7' AND pre < {_BUDGETS[1]})
    UNION ALL
    -- r14: attribute-sidecar round trip — the Spark side writes a
    -- (doc_id, lang, n_chars) sidecar to parquet, reads it back, and
    -- JOINS n_chars onto a corpus projection that no longer carries
    -- it; values surviving byte-equal proves the write/read/join path
    SELECT 'sidecar' AS stage, doc_id,
           round(CAST(n_chars AS DOUBLE), 6) AS dsir_logw
    FROM documents WHERE doc_id % 37 = 0
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (late r9 rotation, slot freed by
    folding enumerate_field into cast_binarize): target = long
    documents (n_chars >= 400), raw = the whole corpus; hashed-unigram
    tables fit on each (two bounded count jobs, <= dims rows
    collected), per-doc log importance weight as ONE narrow aggregate
    fold over the difference-array literal, then a seeded
    Gumbel-top-k draw (md5-derived uniforms — the oracle replays the
    EXACT draw, fit arithmetic included, from first principles in
    SQL).  The top-k compiles to TakeOrderedAndProject: k rows move,
    nothing exchanges.

    r11 fold: a second STRATIFIED stage draws ``_DSIR_GROUP_K`` per
    ``source`` from the same weights and seed via
    :func:`~smashed_spark.functions.selection.gumbel_top_k_grouped`
    (WindowGroupLimit — per-partition top-k before the one group-key
    exchange); the oracle replays it as a ROW_NUMBER over the same
    keyed CTE.  Both stages share the per-doc Gumbel key, so the gate
    certifies the grouped ranking against the identical arithmetic.

    r14 folds (the two §2.11 families that were unit-only): 'budget'
    — :func:`~smashed_spark.sources.loaders.select_under_token_budgets`
    fits each of two sources under its own n_chars budget (ONE slim
    corpus scan, per-source range-partitioned prefix sums, flag
    join-back keyed on (doc_id, source); unbudgeted sources certify
    the keep=0 branch by absence); 'sidecar' —
    :func:`~smashed_spark.sources.attributes.write_attributes` writes
    a (doc_id, lang, n_chars) sidecar to parquet,
    :func:`~smashed_spark.sources.attributes.join_attributes` joins
    n_chars back onto a corpus projection that no longer carries it
    (broadcast tier via the bounded probe), and the oracle's plain
    documents read certifies the physical round trip value-for-value."""
    from ..functions.classifier import fit_unigram_logprob_table
    from ..functions.selection import (
        gumbel_top_k,
        gumbel_top_k_grouped,
        with_importance_logweight,
    )

    # r16 opt: widen the one-task scan before the word explode + hashed
    # projections feeding both unigram fits and the importance weights
    # (guide §2.5).  r17: the two fit collects + the weighted union's
    # branches re-executed the widen exchange per job/branch; one
    # in-gate localCheckpoint (timed region) shares the materialized
    # widened scan across all of them (VERDICT item 4's pattern).
    from ..core.parallel import ensure_min_parallelism

    docs = (
        ensure_min_parallelism(load(spark, sf_dir, "documents"))
        .localCheckpoint(eager=True)
        .withColumn("words", F.split("text", " "))
    )
    target = docs.filter(F.col("n_chars") >= 400)
    t_table = fit_unigram_logprob_table(target, dims=_DSIR_DIMS)
    r_table = fit_unigram_logprob_table(docs, dims=_DSIR_DIMS)
    weighted = with_importance_logweight(docs, t_table, r_table)
    picked = gumbel_top_k(
        weighted, _DSIR_K, id_field="doc_id", seed=_DSIR_SEED
    )
    grouped = gumbel_top_k_grouped(
        weighted, _DSIR_GROUP_K, "source",
        id_field="doc_id", seed=_DSIR_SEED,
    )
    out = picked.select(
        F.lit("global").alias("stage"),
        "doc_id",
        F.round("dsir_logw", 6).alias("dsir_logw"),
    ).unionByName(
        grouped.select(
            F.lit("grouped").alias("stage"),
            "doc_id",
            F.round("dsir_logw", 6).alias("dsir_logw"),
        )
    )

    # r14 'budget' stage: per-source greedy token budgets
    from ..sources.loaders import select_under_token_budgets

    slim = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    budg = select_under_token_budgets(
        slim,
        budgets={"src1": _BUDGETS[0], "src7": _BUDGETS[1]},
        source_field="source",
        tokens_field="n_chars",
        score_field="n_chars",
        key_field="doc_id",
    )
    b_stage = budg.filter(F.col("in_budget") == 1).select(
        F.lit("budget").alias("stage"),
        "doc_id",
        F.round(F.col("n_chars").cast("double"), 6).alias("dsir_logw"),
    )

    # r14 'sidecar' stage: write the attributes sidecar, join n_chars
    # back onto a projection that no longer carries it.  The sidecar
    # dir is read LAZILY by the returned frame — clean at exit, not
    # here (the io_roundtrip pattern)
    import atexit
    import shutil
    import tempfile

    from ..sources.attributes import join_attributes, write_attributes

    side_dir = tempfile.mkdtemp(prefix="smashed_sidecar_")
    atexit.register(shutil.rmtree, side_dir, ignore_errors=True)
    write_attributes(
        load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        ),
        side_dir,
        key_field="doc_id",
        num_files=4,
    )
    joined = join_attributes(
        load(spark, sf_dir, "documents").select("doc_id", "source"),
        side_dir,
        key_field="doc_id",
        fields=["n_chars"],
    )
    s_stage = joined.filter(F.col("doc_id") % 37 == 0).select(
        F.lit("sidecar").alias("stage"),
        "doc_id",
        F.round(F.col("n_chars").cast("double"), 6).alias("dsir_logw"),
    )
    return out.unionByName(b_stage).unionByName(s_stage)


# ---------------------------------------------------------------------------
# relational analytics (bench headliners; joins + aggregations)
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: partial (map-side) aggregation
    then one shuffle on the 2-value grouping key."""
    df = load(spark, sf_dir, "lineitem")
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# gate slot freed round 5 for stream_dedup: join_shipping_priority +
# agg_pricing_summary keep the TPC-H-shaped join/agg family certified;
# the broadcast-join plan shape of this one stays pinned by
# tests/test_plan_quality.py::test_dimension_joins_are_broadcast
def q_revenue_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders x customer x nation revenue rollup.  customer and nation
    are broadcast (dimension tables) so the fact table never shuffles
    for the join — only the final small aggregation shuffles."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    joined = orders.join(
        F.broadcast(customer),
        orders.o_custkey == customer.c_custkey,
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# streaming-shaped aggregation (batch-checkable) + contrib family
# ---------------------------------------------------------------------------


@query(
    "windowed_event_counts",
    oracle="""
    WITH w AS (
        SELECT 'window' AS stage,
               time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
               count(*) AS n_events, round(sum(value), 6) AS sum_value,
               CAST(NULL AS DOUBLE) AS min_value,
               CAST(NULL AS DOUBLE) AS max_value,
               CAST(NULL AS DOUBLE) AS avg_value,
               CAST(NULL AS BIGINT) AS distinct_users
        FROM events GROUP BY 2, 3
    ), base AS (
        SELECT date_trunc('day', ts) AS bucket, event_type, value,
               user_id
        FROM events
    ), stats AS (
        SELECT bucket, event_type, count(*) AS n_events,
               round(sum(value), 6) AS sum_value,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value,
               round(sum(value) / count(value), 6) AS avg_value
        FROM base GROUP BY 1, 2
    ), h AS (
        SELECT DISTINCT bucket, event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   ::BIGINT AS h
        FROM base WHERE user_id IS NOT NULL
    ), r AS (
        SELECT bucket, event_type, h, row_number() OVER (
            PARTITION BY bucket, event_type ORDER BY h) AS rn
        FROM h
    ), reg AS (
        SELECT bucket, event_type, count(*) AS n_distinct,
               max(CASE WHEN rn = 48 THEN h END) AS kth
        FROM r GROUP BY 1, 2
    )
    SELECT 'rollup_day' AS stage, s.bucket, s.event_type, s.n_events,
           s.sum_value, s.min_value, s.max_value, s.avg_value,
           CAST(coalesce(
               CASE WHEN g.n_distinct < 48 THEN g.n_distinct
                    ELSE (CAST(47 AS HUGEINT)
                          * CAST(1152921504606846976 AS HUGEINT))
                         // g.kth END, 0) AS BIGINT) AS distinct_users
    FROM stats s LEFT JOIN reg g
      ON s.bucket = g.bucket AND s.event_type = g.event_type
    UNION ALL
    SELECT * FROM w
    """,
)
def q_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stages since r11.  ``window``: event-time tumbling-window
    aggregation (streaming/runner.py) — identical code path runs on
    readStream with a watermark.  ``rollup_day``: the hypertable
    rollup family (functions/rollup.py) driven through its FULL
    incremental lifecycle — three event micro-batches (split on
    ``event_id % 3``) folded into parquet state by
    ``rollup_ingest_batch`` at HOUR granularity, a
    ``compact_rollup_state`` after batch 1 (so the read crosses the
    manifest-carrying ``batch=-1`` plus un-compacted tails), the
    merged hourly rollup cascaded to DAY via
    ``rollup_to_granularity``, and ``rollup_estimates`` deriving
    ``avg`` from the mergeable sum/count pair and ``distinct_users``
    from the k=48 KMV register (md5-60 convention — the oracle
    replays the register bit-exactly with DuckDB HUGEINT integer
    arithmetic; k=48 keeps both estimator branches live at sf0.01:
    per-(day, event_type) distinct users span 42..67 there)."""
    import shutil
    import tempfile

    from ..functions.rollup import (
        RollupSpec,
        compact_rollup_state,
        read_rollup,
        rollup_estimates,
        rollup_ingest_batch,
        rollup_to_granularity,
    )
    from ..streaming.runner import windowed_event_counts

    ev = load(spark, sf_dir, "events")
    nulld = F.lit(None).cast("double")
    win = windowed_event_counts(ev).select(
        F.lit("window").alias("stage"),
        F.col("window_start").alias("bucket"),
        "event_type",
        "n_events",
        "sum_value",
        nulld.alias("min_value"),
        nulld.alias("max_value"),
        nulld.alias("avg_value"),
        F.lit(None).cast("bigint").alias("distinct_users"),
    )
    spec = RollupSpec(
        ts_field="ts",
        keys=("event_type",),
        values=("value",),
        distinct=("user_id",),
        k=48,
    )
    root = tempfile.mkdtemp(prefix="smashed_rollup_gate_")
    try:
        # r17: batches 0 and 1 are independent commits to DISJOINT
        # batch= dirs, and the compaction (whose no-concurrent-write
        # contract is what killed the r16 overlap probe) only runs
        # after BOTH have committed — so the two partial-rollup jobs
        # overlap from a driver pool (guide §2.6) without touching
        # that contract.  Batch 2 stays after the compaction, as the
        # lifecycle being certified requires.
        from concurrent.futures import ThreadPoolExecutor

        def _ingest(i: int) -> None:
            rollup_ingest_batch(
                spark,
                root,
                ev.where(F.col("event_id") % 3 == i),
                i,
                spec,
                "hour",
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            f0, f1 = pool.submit(_ingest, 0), pool.submit(_ingest, 1)
            f0.result()
            f1.result()
        # folds batch 0 into the manifest-carrying batch=-1; the final
        # read then merges compacted + tail partials
        compact_rollup_state(spark, root, spec)
        _ingest(2)
        daily = rollup_to_granularity(
            read_rollup(spark, root, spec), "day", spec, finer="hour"
        )
        roll = (
            rollup_estimates(daily, spec)
            .select(
                F.lit("rollup_day").alias("stage"),
                "bucket",
                "event_type",
                "n_events",
                F.round("sum_value", 6).alias("sum_value"),
                F.round("min_value", 6).alias("min_value"),
                F.round("max_value", 6).alias("max_value"),
                F.round("avg_value", 6).alias("avg_value"),
                F.col("distinct_user_id").alias("distinct_users"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return win.unionByName(roll)


@query(
    "contrib_squad",
    oracle="""
    WITH e AS (
        SELECT doc_id, text,
               [string_split(text, ' ')[3], 'zzz_not_there'] AS evs,
               [CAST(doc_id % 5 AS DOUBLE), CAST(n_chars % 7 AS DOUBLE),
                CAST(length(lang) AS DOUBLE)] AS annotations,
               '' || lang || chr(10) || source || chr(10) AS context
        FROM documents
    )
    SELECT doc_id, context,
           to_json(list_transform(evs, v -> CASE WHEN strpos(text, v) > 0
               THEN [CAST(strpos(text, v) - 1 AS BIGINT),
                     CAST(strpos(text, v) - 1 + length(v) AS BIGINT)]
               ELSE [CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)] END))
               AS locations,
           to_json(list_sort(list_distinct(string_split(text, ' '))))
               AS answers,
           annotations[1] AS preds,
           round((annotations[2] + annotations[3]) / 2, 6) AS labels
    FROM e
    """,
)
def q_contrib_squad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contrib-recipe family in one pipeline over documents:
    ConcatenateContextMapper (reference contrib/squad.py:47-139),
    AddEvidencesLocationMapper (squad.py:161-195), UniqueAnswerMapper
    (squad.py:142-158; sorted on both sides because DuckDB's
    list_distinct has no order guarantee — order-preservation is
    pinned in the unit test), and OneVsOtherAnnotatorMapper
    (contrib/sse.py:5-38)."""
    from ..recipes.contrib import (
        AddEvidencesLocationMapper,
        ConcatenateContextMapper,
        OneVsOtherAnnotatorMapper,
        UniqueAnswerMapper,
    )

    from ..core.parallel import ensure_min_parallelism

    # r16 opt: widen the one-task scan before the evidence-location
    # string search (guide §2.5); per-doc outputs, order-independent
    df = (
        ensure_min_parallelism(load(spark, sf_dir, "documents"))
        .withColumn("context", F.array("lang", "source"))
        .withColumn(
            "evidences",
            F.array(
                F.element_at(F.split("text", " "), 3), F.lit("zzz_not_there")
            ),
        )
        .withColumn("answers", F.split("text", " "))
        .withColumn(
            "annotations",
            F.array(
                (F.col("doc_id") % 5).cast("double"),
                (F.col("n_chars") % 7).cast("double"),
                F.length("lang").cast("double"),
            ),
        )
    )
    pipe = (
        ConcatenateContextMapper()
        >> AddEvidencesLocationMapper(context_field="text")
        >> UniqueAnswerMapper()
        >> OneVsOtherAnnotatorMapper()
    )
    out = pipe.map(df)
    return out.select(
        "doc_id",
        "context",
        "locations",
        F.array_sort("answers").alias("answers"),
        "preds",
        "labels",
    )


# gate slot freed round 5 for dedup_substring: the session_stats oracle
# recomputes the identical gap-sessionization SQL before rolling up, so
# a SessionizeMapper bug still breaks a driver gate; event-level
# assignment parity stays covered by the stream_sessionize gate.


@query(
    "session_stats",
    oracle="""
    WITH x AS (
        SELECT *,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, CAST(sum(brk) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM x
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS span_seconds,
           round(sum(value), 6) AS total_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session rollup: count, span, value per (user, session)."""
    from ..functions.sessions import SessionStatsMapper

    return SessionStatsMapper().map(load(spark, sf_dir, "events"))


@query(
    "stream_sessionize",
    oracle="""
    WITH x AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, sum(brk) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM x
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us,
           count(*) AS n_events,
           round(sum(value), 6) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState
    (streaming/stateful.py).

    The bounded replay appends one sentinel event per user past the
    inactivity gap, so every *real* session closes in-stream (the
    sentinel's own one-event session stays open and is never emitted).
    That makes the streaming output deterministic and equal to the
    batch gap-sessionization — hence the SQL oracle.  Runs with
    ``idle_timeout=False`` + ``trigger(availableNow=True)``: the query
    drains the replay and terminates on its own (no polling loop).
    """
    import tempfile

    from ..streaming.stateful import run_sessionize_bounded

    batch = load(spark, sf_dir, "events")
    events = batch.select("user_id", "ts", "value")
    sentinels = (
        batch.groupBy("user_id")
        .agg(F.max("ts").alias("ts"))
        .select(
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 31 MINUTES")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    src_root = tempfile.mkdtemp(prefix="smashed_stream_")
    src = src_root + "/events"
    # availableNow with no read limits (maxFilesPerTrigger unset)
    # snapshots every file into ONE micro-batch, and the stateful fn
    # sorts each user's rows within a batch — so the write can be
    # parallel (coalesce(1) previously serialized the union + sentinel
    # agg through a single task: ~3s of the gate at sf0.1)
    events.unionAll(sentinels).repartition(8).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    name = "smashed_stream_sessions"
    # a state store is created per shuffle partition: bound them for
    # this bounded replay so store setup doesn't dominate, but keep
    # enough for parallel Python workers in the stateful stage
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        # failsafe timeout only (availableNow terminates on its own):
        # sized for the 100x scale probe, not just the sf0.1 gate
        run_sessionize_bounded(
            stream, name, gap_minutes=30, timeout_seconds=900.0
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # memory sink owns the rows after the drain; drop the replay dir
        import shutil

        shutil.rmtree(src_root, ignore_errors=True)
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


# Last sf_dir the ann_ivf_topk GATE query fit on (normpath), recorded so
# the lazy oracle can refuse to replay the fit on a different corpus.
_IVF_GATE_SF_DIR: dict = {"dir": None}


def _ivf_topk_sql(
    k: int,
    n_centroids: int,
    n_probe: int,
    max_iter: int,
    seed: int,
    fit_sample: int = 100_000,
) -> "Callable[[], str]":  # noqa: F821
    """LAZY oracle builder for IVFCosineTopK.  The centroids are
    data-dependent (fit on the gate corpus), so the oracle cannot be a
    static string; instead this returns a zero-arg callable the
    registry resolves at ``oracle_sql()`` time.  The callable replays
    the mapper's fit EXACTLY — same hash-ordered fit set (smallest
    ``md5(vec_id)`` first), same ``fit_ivf_centroids`` numpy Lloyd,
    same ``ivf_probe_map`` — then embeds the bit-identical centroids
    and probe lists as SQL literals.  Assignment (argmax dot product,
    lowest cell on ties, matching numpy argmax), candidate generation,
    and the exact-cosine rerank are then plain SQL."""

    def build() -> str:
        import os

        import duckdb
        import numpy as np

        from ..functions.similarity import fit_ivf_centroids, ivf_probe_map

        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        # the centroids are fit on THIS dir while the gate query fits on
        # whatever sf_dir the driver passed to queries()["ann_ivf_topk"];
        # if the two disagree the parity failure downstream is opaque
        # (different corpora -> different centroids -> different cells).
        # The gate query records its sf_dir; fail fast on a mismatch.
        if _IVF_GATE_SF_DIR["dir"] not in (None, os.path.normpath(sf_dir)):
            raise RuntimeError(
                "ann_ivf_topk oracle/gate sf_dir mismatch: the Spark "
                f"gate query fit on {_IVF_GATE_SF_DIR['dir']} but the "
                f"oracle would replay the fit on {sf_dir} (from "
                "SPARK_GRAFT_ORACLE_SF_DIR, default /root/testdata/"
                "sf0.01). Set SPARK_GRAFT_ORACLE_SF_DIR to the gate's "
                "sf dir — centroid parity is per-corpus by construction."
            )
        con = duckdb.connect()
        rows = con.execute(
            "SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
            f"FROM '{sf_dir}/embeddings.parquet' "
            "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id "
            f"LIMIT {fit_sample}"
        ).fetchall()
        con.close()
        mat = np.array([r[0] for r in rows], dtype=np.float64)
        centroids = fit_ivf_centroids(mat, n_centroids, seed, max_iter)
        probes = ivf_probe_map(centroids, n_probe)

        cent_vals = ",\n        ".join(
            f"({c}, [" + ", ".join(repr(x) for x in centroids[c])
            + "]::DOUBLE[])"
            for c in range(len(centroids))
        )
        probe_vals = ", ".join(
            f"({c}, {p})" for c, ps in probes.items() for p in ps
        )
        return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    cents AS (SELECT * FROM (VALUES
        {cent_vals}) t(cell, c)),
    asg AS (
        SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       -- normalize v EXACTLY like the Spark UDF
                       -- (elementwise divide by max(||v||, 1e-12), THEN
                       -- dot) — unnormalized ranking is mathematically
                       -- equivalent but FP-different, and a near-tie
                       -- between two cells could assign differently and
                       -- flip candidate sets
                       ORDER BY list_dot_product(
                           list_transform(e.v, x -> x / greatest(
                               sqrt(list_dot_product(e.v, e.v)), 1e-12)),
                           c.c) DESC, c.cell
                   ) AS rn
            FROM e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (SELECT * FROM (VALUES {probe_vals}) t(cell, pcell)),
    q AS (
        SELECT a.vec_id AS query_id, p.pcell
        FROM asg a JOIN probes p ON p.cell = a.cell
        WHERE a.vec_id < 20
    ),
    cand AS (
        SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
        FROM q JOIN asg b ON b.cell = q.pcell
        WHERE b.vec_id != q.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM cand JOIN e a ON a.vec_id = cand.query_id
                  JOIN e b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """

    return build


@query("ann_ivf_topk", oracle=_ivf_topk_sql(5, 8, 3, 3, 42))
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: spherical-kmeans cosine cells (fit on a bounded
    hash-ordered driver-side sample) as the coarse quantizer, n_probe
    cells scored per query, exact rerank (the second scale path beside
    hyperplane LSH).  Fully deterministic given the seed and the hash
    order, so the DuckDB oracle replays the fit driver-side and embeds
    the centroids as literals (same trick as ``ann_lsh_topk``'s
    hyperplanes)."""
    import os

    from ..functions.similarity import IVFCosineTopK

    _IVF_GATE_SF_DIR["dir"] = os.path.normpath(sf_dir)

    # r17: route the quantizer fit through the per-process cache.  A
    # gate-scoped override of the FIT hook (not the public
    # ``centroids=`` injection, whose defensive re-normalization is
    # not bit-identical to the raw fit output the oracle replays) —
    # the cached matrix is the exact object an uncached fit returns.
    class _FitCachedIVF(IVFCosineTopK):
        def _fit_centroids(self, base):  # noqa: ARG002 — same corpus
            return _gate_centroids(
                spark, sf_dir, self.n_centroids, self.seed,
                self.max_iter, self.fit_sample,
            )

    out = _FitCachedIVF(
        k=5, n_centroids=8, n_probe=3, max_iter=3, seed=42,
        queries_filter="vec_id < 20",
    ).map(
        load(spark, sf_dir, "embeddings")
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# Last sf_dir the semantic_dedup GATE query fit on — same centroid-
# parity fail-fast as ann_ivf_topk (the oracle replays the fit on its
# own sf dir; a mismatch must fail loudly, not hash-mismatch opaquely).
_SEM_GATE_SF_DIR: dict = {"dir": None}


def _semantic_pairs_sql(
    threshold: float,
    n_centroids: int,
    max_iter: int,
    seed: int,
    fit_sample: int = 100_000,
) -> "Callable[[], str]":  # noqa: F821
    """LAZY oracle for SemanticNearDupPairsMapper (SemDeDup): replay
    the spherical-kmeans fit driver-side exactly like the mapper
    (hash-ordered fit set, same numpy Lloyd), embed the bit-identical
    centroids as SQL literals, assign cells with the same
    normalize-then-dot argmax (lowest cell on ties), then a plain
    within-cell self-join computing normalized cosine >= threshold —
    the quadratic form the mapper's cell-scoped matmul avoids at
    scale, exact at oracle scale."""

    def build() -> str:
        import os

        import duckdb
        import numpy as np

        from ..functions.similarity import fit_ivf_centroids

        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        if _SEM_GATE_SF_DIR["dir"] not in (None, os.path.normpath(sf_dir)):
            raise RuntimeError(
                "semantic_dedup oracle/gate sf_dir mismatch: the Spark "
                f"gate query fit on {_SEM_GATE_SF_DIR['dir']} but the "
                f"oracle would replay the fit on {sf_dir} (from "
                "SPARK_GRAFT_ORACLE_SF_DIR). Centroid parity is "
                "per-corpus by construction."
            )
        con = duckdb.connect()
        rows = con.execute(
            "SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
            f"FROM '{sf_dir}/embeddings.parquet' "
            "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id "
            f"LIMIT {fit_sample}"
        ).fetchall()
        con.close()
        mat = np.array([r[0] for r in rows], dtype=np.float64)
        centroids = fit_ivf_centroids(mat, n_centroids, seed, max_iter)
        cent_vals = ",\n        ".join(
            f"({c}, [" + ", ".join(repr(x) for x in centroids[c])
            + "]::DOUBLE[])"
            for c in range(len(centroids))
        )
        return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    un AS (SELECT vec_id,
                  list_transform(v, x -> x / greatest(
                      sqrt(list_dot_product(v, v)), 1e-12)) AS u
           FROM e),
    cents AS (SELECT * FROM (VALUES
        {cent_vals}) t(cell, c)),
    asg AS (
        SELECT vec_id, u, cell FROM (
            SELECT un.vec_id, un.u, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY un.vec_id
                       ORDER BY list_dot_product(un.u, c.c) DESC, c.cell
                   ) AS rn
            FROM un CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    -- r13 incremental stage: history = vec_id % 3 == 0 (the persisted
    -- index), batch = the rest; a batch row survives iff NO same-cell
    -- history vector and NO EARLIER same-cell batch row reaches the
    -- threshold (dedup_incremental_semantic's conservative over-drop:
    -- earlier rows count whether or not they themselves survived,
    -- which is exactly what makes this a join, not a recurrence)
    hist AS (SELECT vec_id, u, cell FROM asg WHERE vec_id % 3 = 0),
    bat AS (SELECT vec_id, u, cell FROM asg WHERE vec_id % 3 <> 0),
    surv AS (
        SELECT b.vec_id FROM bat b
        WHERE NOT EXISTS (
            SELECT 1 FROM hist h
            WHERE h.cell = b.cell
              AND list_dot_product(b.u, h.u) >= {threshold}
        )
        AND NOT EXISTS (
            SELECT 1 FROM bat a
            WHERE a.cell = b.cell AND a.vec_id < b.vec_id
              AND list_dot_product(a.u, b.u) >= {threshold}
        )
    )
    SELECT 'pairs' AS stage, a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.u, b.u), 6) AS sim
    FROM asg a JOIN asg b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.u, b.u) >= {threshold}
    UNION ALL
    SELECT 'incremental' AS stage, vec_id AS id_a,
           CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS sim
    FROM surv
    """

    return build


# Last sf_dir the diversity_select GATE query fit on ("dir") and the
# oracle replayed on ("oracle_dir") — same centroid-parity fail-fast
# as semantic_dedup / ann_ivf_topk, recorded by BOTH sides so the
# mismatch check fires regardless of which one runs first.  A plain
# module global is a SEQUENTIAL-DRIVE-ONLY pattern: the driver runs
# gate and oracle in one process, one query at a time; parallel gate
# execution would need a keyed registry instead.
_DSEL_GATE_SF_DIR: dict = {"dir": None, "oracle_dir": None}


def _diversity_select_sql(
    keep_fraction: float,
    n_centroids: int,
    max_iter: int,
    seed: int,
    fit_sample: int = 100_000,
) -> "Callable[[], str]":  # noqa: F821
    """LAZY oracle for D4-style diversity_select (selection.py): replay
    the spherical-kmeans fit driver-side exactly like the gate query
    (hash-ordered fit set, same numpy Lloyd), renormalize the centroids
    the way with_prototypicality does (bit-identical literals), assign
    cells with the same normalize-then-dot argmax (lowest cell on
    ties), then rank within each cell by prototypicality ASC
    (keep='diverse') with vec_id tie-break and keep rank <=
    greatest(1, ceil(frac * cnt - 1e-9)) — the _K_EPS arithmetic the
    Spark side uses, replayed in exact-match SQL."""

    def build() -> str:
        import os

        import duckdb
        import numpy as np

        from ..functions.similarity import fit_ivf_centroids

        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        if _DSEL_GATE_SF_DIR["dir"] not in (None, os.path.normpath(sf_dir)):
            raise RuntimeError(
                "diversity_select oracle/gate sf_dir mismatch: the "
                f"Spark gate query fit on {_DSEL_GATE_SF_DIR['dir']} "
                f"but the oracle would replay the fit on {sf_dir} "
                "(from SPARK_GRAFT_ORACLE_SF_DIR). Centroid parity is "
                "per-corpus by construction."
            )
        # record this side too, so a gate that runs AFTER the oracle
        # hits the same fail-fast (the check is order-symmetric)
        _DSEL_GATE_SF_DIR["oracle_dir"] = os.path.normpath(sf_dir)
        con = duckdb.connect()
        rows = con.execute(
            "SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
            f"FROM '{sf_dir}/embeddings.parquet' "
            "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id "
            f"LIMIT {fit_sample}"
        ).fetchall()
        con.close()
        mat = np.array([r[0] for r in rows], dtype=np.float64)
        centroids = fit_ivf_centroids(mat, n_centroids, seed, max_iter)
        # with_prototypicality renormalizes injected centroids; replay
        # the identical arithmetic so the SQL literals are bit-equal
        centroids = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
        cent_vals = ",\n        ".join(
            f"({c}, [" + ", ".join(repr(x) for x in centroids[c])
            + "]::DOUBLE[])"
            for c in range(len(centroids))
        )
        return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    un AS (SELECT vec_id,
                  list_transform(v, x -> x / greatest(
                      sqrt(list_dot_product(v, v)), 1e-12)) AS u
           FROM e),
    cents AS (SELECT * FROM (VALUES
        {cent_vals}) t(cell, c)),
    asg AS (
        SELECT vec_id, cell, cos FROM (
            SELECT un.vec_id, c.cell,
                   list_dot_product(un.u, c.c) AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY un.vec_id
                       ORDER BY list_dot_product(un.u, c.c) DESC, c.cell
                   ) AS rn
            FROM un CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    ranked AS (
        SELECT vec_id, cell, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY cell ORDER BY cos ASC, vec_id
               ) AS rnk,
               COUNT(*) OVER (PARTITION BY cell) AS cnt
        FROM asg
    )
    SELECT vec_id, CAST(cell AS BIGINT) AS cell,
           round(cos, 6) AS proto_cos, CAST(rnk AS BIGINT) AS rank
    FROM ranked
    WHERE rnk <= greatest(1, CAST(ceil(
        {keep_fraction!r} * CAST(cnt AS DOUBLE) - 1e-9) AS BIGINT))
    """

    return build


@query("diversity_select", oracle=_diversity_select_sql(0.5, 8, 3, 42))
def q_diversity_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style cluster-balanced diversity selection (Tirumala et al.
    2023, selection.py:with_prototypicality/diversity_select): fit the
    coarse quantizer once on a hash-ordered bounded sample (the
    fit-once/inject contract), score every embedding's prototypicality
    in one narrow Arrow matmul, rank within each cell over ONE
    exchange, keep the diverse (low-cosine) half per cell.  The
    keep_fraction tier is gated — its count-window + epsilon-ceil
    arithmetic is the part an oracle can get wrong; per_cell is a
    literal filter on the same rank."""
    import os

    from ..functions.selection import diversity_select

    if _DSEL_GATE_SF_DIR["oracle_dir"] not in (
        None,
        os.path.normpath(sf_dir),
    ):
        raise RuntimeError(
            "diversity_select gate/oracle sf_dir mismatch: the oracle "
            f"already replayed the fit on "
            f"{_DSEL_GATE_SF_DIR['oracle_dir']} but the Spark gate "
            f"query would fit on {sf_dir}. Centroid parity is "
            "per-corpus by construction."
        )
    _DSEL_GATE_SF_DIR["dir"] = os.path.normpath(sf_dir)
    # r16 scan-widen probe REVERTED: 0.81 -> 1.11 s min-of-7 — the
    # prototypicality matmul is one cheap Arrow pass and the in-cell
    # rank exchange sits directly above it; the widen exchange only
    # added a recompute under the fit/score branches.  Don't re-try.
    emb = load(spark, sf_dir, "embeddings")
    # r17: fit through the per-process cache (shared with
    # semantic_dedup / ann_ivf_topk — identical parameters)
    cents = _gate_centroids(spark, sf_dir, 8, 42, 3, 100_000)
    out = diversity_select(
        emb, cents, keep_fraction=0.5, keep="diverse",
        vector_field="embedding", id_field="vec_id", rank_field="rank",
    )
    return out.select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.round("proto_cos", 6).alias("proto_cos"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@query("semantic_dedup", oracle=_semantic_pairs_sql(0.35, 8, 3, 42))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023):
    spherical-kmeans cells from a bounded hash-ordered fit sample,
    Arrow-batched cell assignment, ONE exchange on the cell key, then
    a chunked unit-vector matmul per cell — the O(N²/k) cluster-scoped
    form of embedding_near_dup.  Deterministic given seed + hash
    order, so the oracle replays the fit and the cell assignment
    exactly (same pattern as ann_ivf_topk).

    r13 fold ('incremental' stage): the incremental-semantic tier of
    the dedup matrix (functions/dedup.py dedup_incremental_semantic +
    with_semantic_cells).  vec_id % 3 == 0 becomes the persisted
    (cell, unit-vector) history index, the rest arrives as a batch and
    is dropped on cosine >= threshold to any SAME-CELL history vector
    OR any EARLIER same-cell batch row (the conservative over-drop
    convention — vs all earlier rows, kept or not, which is what makes
    the oracle a plain double-NOT-EXISTS instead of a recurrence).
    The quantizer is INJECTED (fit once via fit_centroids_sampled with
    the pairs stage's exact fit parameters), so the oracle's replayed
    centroids certify both stages."""
    import os

    from ..functions.dedup import (
        SemanticNearDupPairsMapper,
        dedup_incremental_semantic,
        with_semantic_cells,
    )

    _SEM_GATE_SF_DIR["dir"] = os.path.normpath(sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    # ONE quantizer fit serves both stages (injection is the
    # documented contract; a second identical fit would double the
    # driver-side k-means and make the shared-centroids guarantee
    # parameter-coincidental instead of structural).  r17: the fit
    # comes through the per-(process, sf_dir, params) cache — see
    # _gate_centroids; ann_ivf_topk and diversity_select share the
    # same (8, 42, 3, 100k) fit.
    cents = _gate_centroids(spark, sf_dir, 8, 42, 3, 100_000)
    pairs = SemanticNearDupPairsMapper(
        threshold=0.35, centroids=cents
    ).map(emb)
    index = with_semantic_cells(emb.filter("vec_id % 3 = 0"), cents)
    survivors = dedup_incremental_semantic(
        emb.filter("vec_id % 3 != 0"),
        index,
        cents,
        vector_field="embedding",
        order_by="vec_id",
        threshold=0.35,
    )
    inc = survivors.select(
        F.lit("incremental").alias("stage"),
        F.col("vec_id").cast("bigint").alias("id_a"),
        F.lit(None).cast("bigint").alias("id_b"),
        F.lit(None).cast("double").alias("sim"),
    )
    return pairs.select(
        F.lit("pairs").alias("stage"), "id_a", "id_b", "sim"
    ).unionByName(inc)


_MEDIA_GATE_PATH = _bind_gate_dir(
    "SMASHED_MEDIA_GATE_DIR", "smashed_media_gate"
)


def _synth_media_batches(batches):
    """Deterministic per-doc_id media bytes, REAL headers (stdlib
    synthesizers in operators/multimodal.py), format by doc_id % 6:
    png / gif / canonical wav / jpeg / truncated png / garbage.  Runs
    distributed (mapInPandas) — the gate synthesizes its media corpus
    without a driver loop."""
    import pandas as pd

    from smashed_spark.operators.multimodal import (
        synth_gif,
        synth_jpeg,
        synth_png,
        synth_wav,
    )

    for pdf in batches:
        blobs = []
        for d in pdf["doc_id"]:
            d = int(d)
            m = d % 6
            # vary within a format via k = d // 6: d % 6 == m pins
            # d's residues mod 2 and mod 3, so moduli of d itself
            # would be CONSTANT per branch (the first draft's wav was
            # all mono/44100 — review catch)
            k = d // 6
            if m == 0:
                b = synth_png(64 + k % 1000, 32 + k % 700)
            elif m == 1:
                b = synth_gif(16 + k % 1200, 16 + k % 800)
            elif m == 2:
                b = synth_wav(
                    1 + k % 2, (8000, 16000, 44100)[k % 3], 16, 100 + k % 400
                )
            elif m == 3:
                b = synth_jpeg(32 + k % 2000, 32 + k % 900)
            elif m == 4:
                b = synth_png(640, 480)[:10]  # magic intact, IHDR gone
            else:
                b = f"garbage bytes {d}".encode()
            blobs.append(b)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "media_blob": blobs})


def _multimodal_oracle() -> str:
    """multimodal_binary oracle incl. the r13 header fold: DuckDB
    re-parses the SAME synthesized media bytes the gate wrote (blob
    slicing via hex/substring), with every fixed-offset expression
    generated by operators/multimodal.media_header_expr — the exact
    generator the Spark tier compiles, so offsets/magic/guards cannot
    drift.  The synthesized JPEG's layout is fixed (SOF0 at byte 23),
    so even the variable-offset format is value-checked byte-for-byte."""
    from ..operators.multimodal import _be, _hx, media_header_expr

    def mh(field: str) -> str:
        return media_header_expr("media_blob", field, "duckdb")

    # gate-synthesized JPEG layout: SOI(2) + APP0 marker+len(4) + JFIF
    # body(14) => SOF0 marker at 1-indexed byte 21; after marker(2) +
    # seglen(2) + precision(1), height/width u16 land at bytes 26/28
    jpeg_sof = (
        f"(octet_length(media_blob) >= 29 "
        f"AND {_hx('media_blob', 1, 3, 'duckdb')} = 'FFD8FF' "
        f"AND {_hx('media_blob', 21, 2, 'duckdb')} = 'FFC0')"
    )
    width = (
        f"COALESCE({mh('width')}, CASE WHEN {jpeg_sof} "
        f"THEN {_be('media_blob', 28, 2, 'duckdb')} END)"
    )
    height = (
        f"COALESCE({mh('height')}, CASE WHEN {jpeg_sof} "
        f"THEN {_be('media_blob', 26, 2, 'duckdb')} END)"
    )
    return f"""
    WITH m AS (
        SELECT doc_id, text, length(text) AS n FROM documents
    ), f AS (
        SELECT doc_id, n, i
        FROM m, (SELECT unnest(range(4)) AS i)
    ), hdr AS (
        SELECT doc_id,
               {mh('format')} AS hdr_format,
               {width} AS hdr_width,
               {height} AS hdr_height,
               {mh('channels')} AS hdr_channels,
               {mh('sample_rate_hz')} AS hdr_sample_rate_hz,
               {mh('bits_per_sample')} AS hdr_bits_per_sample,
               {mh('duration_ms')} AS hdr_duration_ms
        FROM parquet_scan('{_MEDIA_GATE_PATH}/*.parquet')
    )
    SELECT f.doc_id,
           CAST(m.n AS BIGINT) AS media_n_bytes,
           md5(m.text) AS media_md5,
           CAST(f.i AS INT) AS frame_idx,
           md5(substring(m.text, (f.n * f.i) // 4 + 1,
                         (f.n * (f.i + 1)) // 4 - (f.n * f.i) // 4))
               AS frame_digest,
           CAST(CASE WHEN m.n = 0 THEN 0 ELSE floor(
               (SELECT avg(ascii(c))
                FROM unnest(string_split_regex(m.text, '')) AS t(c)
                WHERE c != '')) END AS BIGINT) AS media_mean_level,
           hdr.hdr_format, hdr.hdr_width, hdr.hdr_height,
           hdr.hdr_channels, hdr.hdr_sample_rate_hz,
           hdr.hdr_bits_per_sample, hdr.hdr_duration_ms
    FROM f JOIN m ON f.doc_id = m.doc_id
    JOIN hdr ON f.doc_id = hdr.doc_id
    """


@query("multimodal_binary", oracle=_multimodal_oracle)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline over an opaque media column
    (documents.text utf-8-encoded — ASCII in this corpus, so the
    DuckDB oracle's char arithmetic equals byte arithmetic): native
    metadata (length+md5 at scan speed), N:M frame sampling (one row
    per pseudo-frame via mapInPandas), and byte-level feature
    extraction — certifying the binary schema, Arrow batch plumbing,
    and fan-out cardinality end-to-end.

    r13 fold: REAL media headers.  A distributed synth stage writes
    per-doc png/gif/wav/jpeg/corrupt bytes (valid magic + offsets +
    CRC) to a side parquet; MediaHeaderMapper (native Column tier)
    parses format/dims/audio geometry at scan speed, with
    DeepMediaHeaderMapper's stdlib JPEG-SOF walk filling the one
    variable-offset gap; the oracle re-parses the same bytes in DuckDB
    via generator-shared blob slicing.  Codec-less header metadata is
    thereby value-certified — only pixel/sample DECODE remains
    env-blocked (PIL/av/soundfile)."""
    import atexit
    import shutil

    from ..core.ship import ensure_shipped
    from ..operators.multimodal import (
        AudioFeatureMapper,
        BinaryMetadataMapper,
        DeepMediaHeaderMapper,
        FrameSampleMapper,
        MediaHeaderMapper,
    )
    ensure_shipped(spark)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )

    _claim_gate_dir(_MEDIA_GATE_PATH, "SMASHED_MEDIA_GATE_DIR")
    atexit.register(shutil.rmtree, _MEDIA_GATE_PATH, ignore_errors=True)
    docs.select("doc_id").mapInPandas(
        _synth_media_batches, "doc_id long, media_blob binary"
    ).write.mode("overwrite").parquet(_MEDIA_GATE_PATH)

    hdr = MediaHeaderMapper("media_blob", prefix="hdr").map(
        spark.read.parquet(_MEDIA_GATE_PATH)
    )
    hdr = DeepMediaHeaderMapper("media_blob", prefix="deep").map(hdr)
    hdr = hdr.select(
        "doc_id",
        "hdr_format",
        F.coalesce("hdr_width", "deep_width").alias("hdr_width"),
        F.coalesce("hdr_height", "deep_height").alias("hdr_height"),
        "hdr_channels",
        "hdr_sample_rate_hz",
        "hdr_bits_per_sample",
        "hdr_duration_ms",
    )

    pipe = (
        BinaryMetadataMapper("media", prefix="media")
        >> AudioFeatureMapper("media", prefix="level")
        >> FrameSampleMapper("media", num_frames=4)
    )
    return pipe.map(docs).join(hdr, "doc_id").select(
        "doc_id",
        "media_n_bytes",
        "media_md5",
        "frame_idx",
        "frame_digest",
        F.col("level_mean_level").alias("media_mean_level"),
        "hdr_format",
        "hdr_width",
        "hdr_height",
        "hdr_channels",
        "hdr_sample_rate_hz",
        "hdr_bits_per_sample",
        "hdr_duration_ms",
    )


# tracking-param drop regex for the r12 URL-canonicalization fold —
# built from the SAME default list the mapper uses (functions/web.py
# _TRACKING_PARAMS), so gate and oracle can never drift
from ..functions.web import _TRACKING_PARAMS as _URL_TRACKING  # noqa: E402
from ..functions.web import tracking_drop_regex as _tdr  # noqa: E402

_URL_DROP_RE = _tdr(_URL_TRACKING)

_PII_REDACT_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               'reach me at ' || source || '_' || doc_id ||
               '@example.com or +1-555-01' || (doc_id % 90) ||
               ' host 192.168.' || (100 + doc_id % 156) || '.7 ' || text AS raw
        FROM documents
    ),
    -- r7: C4 line/document cleaning on a synthesized line-structured
    -- input (the corpus itself has no newlines or terminal
    -- punctuation, so the rules are exercised on deterministic lines
    -- built from doc_id + text: kept lines, short lines, punctless
    -- lines, taboo markers, braces, and a below-min_doc_lines branch)
    c4i AS (
        SELECT doc_id,
               concat_ws(chr(10),
                 'The first introductory line ends here.',
                 CASE WHEN doc_id % 5 = 0 THEN 'Too few here.'
                      ELSE substr(text, 1, 80) ||
                           ' plus a proper ending.' END,
                 substr(text, 1, CAST(doc_id % 40 AS INT)),
                 'Short line.',
                 CASE WHEN doc_id % 7 = 0
                      THEN 'this site uses cookies all day'
                      ELSE 'Another perfectly ordinary closing sentence here.'
                      END,
                 CASE WHEN doc_id % 11 = 0 THEN 'code { weird } block'
                      WHEN doc_id % 5 = 0 THEN 'Tiny.'
                      ELSE 'Final line with enough words here.' END
               ) AS c4_in
        FROM documents
    ),
    c4c AS (
        SELECT doc_id,
               array_to_string(list_filter(string_split(c4_in, chr(10)),
                 l -> regexp_matches(trim(l), '[.!?"'']$') AND
                      len(list_filter(string_split_regex(trim(l), '\\s+'),
                                      w -> w <> '')) >= 5),
                 chr(10)) AS c4_text,
               (contains(lower(c4_in), 'lorem ipsum')
                OR contains(lower(c4_in), 'terms of use')
                OR contains(lower(c4_in), 'privacy policy')
                OR contains(lower(c4_in), 'cookie policy')
                OR contains(lower(c4_in), 'uses cookies')
                OR contains(c4_in, '{') OR contains(c4_in, '}')) AS taboo
        FROM c4i
    ),
    c4 AS (
        SELECT doc_id, c4_text,
               CAST((NOT taboo) AND
                    (CASE WHEN length(c4_text) > 0
                          THEN len(string_split(c4_text, chr(10)))
                          ELSE 0 END) >= 3 AS INT) AS c4_keep
        FROM c4c
    ),
    e AS (
        SELECT doc_id, raw,
               regexp_replace(raw,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS r1
        FROM t
    ),
    i AS (
        SELECT doc_id, raw, r1,
               regexp_replace(r1,
                   '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS r2
        FROM e
    ),
    f AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_pii_email,
               CAST(len(regexp_extract_all(r2,
                   '\\+?\\d{1,3}[-. ]\\d{3}[-. ]\\d{3,4}(?:[-. ]\\d{3,4})?')) AS BIGINT)
                   AS n_pii_phone,
               CAST(len(regexp_extract_all(r1,
                   '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_pii_ipv4,
               regexp_replace(r2,
                   '\\+?\\d{1,3}[-. ]\\d{3}[-. ]\\d{3,4}(?:[-. ]\\d{3,4})?',
                   '<PHONE>', 'g') AS redacted
        FROM i
    ),
    -- corpus-wide word-unit exact dedup of the redacted text
    -- (DedupParagraphsMapper, sep=' '): first (doc, pos) occurrence
    -- survives, text reassembled in position order
    px AS (
        SELECT f.doc_id, u.i,
               string_split(f.redacted, ' ')[u.i + 1] AS p
        FROM f, unnest(range(0,
            CAST(len(string_split(f.redacted, ' ')) AS BIGINT))) AS u(i)
    ),
    firsts AS (
        SELECT doc_id, i, p,
               row_number() OVER (PARTITION BY p ORDER BY doc_id, i) AS rn
        FROM px
    ),
    kept AS (
        SELECT doc_id,
               array_to_string(list(p ORDER BY i), ' ') AS deduped,
               count(*) AS n_kept
        FROM firsts WHERE rn = 1 GROUP BY doc_id
    ),
    -- r12: URL canonicalization (functions/web.py UrlCanonicalMapper)
    -- over a synthesized per-doc crawl URL exercising every rule:
    -- mixed-case scheme/host, default vs explicit port, trailing
    -- slash, utm_/named tracking params, unsorted params, fragment,
    -- and a schemeless passthrough branch
    urls AS (
        SELECT doc_id,
            CASE WHEN doc_id % 13 = 0
                 THEN 'no url here ' || CAST(doc_id AS VARCHAR)
                 ELSE 'HTTP://Crawl-' || CAST(doc_id % 7 AS VARCHAR)
                      || '.Example.COM'
                      || CASE WHEN doc_id % 3 = 0 THEN ':80'
                              WHEN doc_id % 3 = 1 THEN ':8080'
                              ELSE '' END
                      || '/docs/' || source
                      || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
                      || '?utm_source=feed&z='
                      || CAST(doc_id % 5 AS VARCHAR) || '&a=1'
                      || CASE WHEN doc_id % 4 = 0
                              THEN '&fbclid=abc' ELSE '' END
                      || CASE WHEN doc_id % 6 = 0
                              THEN '#sec' ELSE '' END
            END AS url
        FROM documents
    ), uc AS (
        SELECT doc_id, trim(regexp_replace(trim(url), '#.*', '')) AS u1
        FROM urls
    ), up AS (
        SELECT *,
            lower(regexp_extract(u1,
                '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
            regexp_replace(u1,
                '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS after
        FROM uc
    ), uh AS (
        SELECT *,
            regexp_extract(regexp_extract(after, '^([^/?]*)', 1),
                           '^([^@]*@)', 1)
                || lower(regexp_replace(
                       regexp_extract(after, '^([^/?]*)', 1),
                       '^[^@]*@', '')) AS hostport,
            substr(after,
                length(regexp_extract(after, '^([^/?]*)', 1)) + 1)
                AS pathq
        FROM up
    ), uq AS (
        SELECT *,
            regexp_extract(pathq, '^([^?]*)', 1) AS upath,
            CASE WHEN contains(pathq, '?')
                 THEN regexp_replace(pathq, '^[^?]*\\?', '')
                 ELSE '' END AS uquery
        FROM uh
    ), us AS (
        SELECT *, array_to_string(list_sort(list_filter(
            string_split(uquery, '&'),
            x -> x <> '' AND NOT regexp_matches(x,
                '^(?:__URL_DROP_RE__)(?:=.*)?$'))), '&') AS cq
        FROM uq
    ), ucanon AS (
        SELECT doc_id,
            CASE WHEN scheme = '' THEN u1 ELSE
                scheme || '://' ||
                CASE WHEN scheme = 'http'
                          AND ends_with(hostport, ':80')
                     THEN substr(hostport, 1, length(hostport) - 3)
                     WHEN scheme = 'https'
                          AND ends_with(hostport, ':443')
                     THEN substr(hostport, 1, length(hostport) - 4)
                     ELSE hostport END ||
                regexp_replace(upath, '/+$', '') ||
                CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
            END AS canon_url
        FROM us
    )
    SELECT f.doc_id, f.n_pii_email, f.n_pii_phone, f.n_pii_ipv4,
           f.redacted,
           coalesce(k.deduped, '') AS deduped,
           CAST(len(string_split(f.redacted, ' '))
                - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
           c4.c4_text, c4.c4_keep, u.canon_url
    FROM f LEFT JOIN kept k ON f.doc_id = k.doc_id
    JOIN c4 ON f.doc_id = c4.doc_id
    JOIN ucanon u ON f.doc_id = u.doc_id
    """.replace("__URL_DROP_RE__", _URL_DROP_RE)


@query("pii_redact", oracle=_PII_REDACT_ORACLE)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a synthesized-PII text column (emails / phones /
    IPv4 embedded deterministically from doc_id so both engines build
    identical inputs): counts per category + the redacted text.  Pure
    regexp column expressions — scan-speed, RE2-compatible patterns.

    The synthesized IP '192.168.XXX.7' (third octet always 3 digits)
    is deliberately the shape the phone pattern half-matches, pinning
    the redaction ORDER (email -> ipv4 -> phone) and the
    count-then-replace sequencing: both engines count each pattern on
    the text as it exists when that pattern is applied.

    r7: the composite also certifies C4CleanMapper
    (functions/cleaning.py — line-level terminal-punctuation +
    min-word filtering, taboo/brace document drops, min_doc_lines) on
    a synthesized line-structured input: the gate corpus itself has no
    newlines or terminal punctuation, so deterministic lines are built
    from doc_id + text exercising every rule branch.

    r12: the composite also certifies UrlCanonicalMapper
    (functions/web.py) — the canonical-form step that makes md5(url)
    dedup keys meaningful across crawls — on a synthesized per-doc
    crawl URL exercising every normalization branch; the oracle
    replays the full rule chain (fragment strip, scheme/host
    lowercase, default-port drop, tracking-param filter built from
    the SAME _TRACKING_PARAMS list, byte-order param sort, trailing
    slash) with DuckDB's regexp/list algebra.
    """
    from ..functions.cleaning import C4CleanMapper
    from ..functions.textstats import PiiRedactMapper

    c4_in = F.concat_ws(
        "\n",
        F.lit("The first introductory line ends here."),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("Too few here.")
        ).otherwise(
            F.concat(
                F.substring("text", 1, 80),
                F.lit(" plus a proper ending."),
            )
        ),
        F.expr("substring(text, 1, CAST(doc_id % 40 AS INT))"),
        F.lit("Short line."),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("this site uses cookies all day"),
        ).otherwise(
            F.lit("Another perfectly ordinary closing sentence here.")
        ),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("code { weird } block")
        )
        .when(F.col("doc_id") % 5 == 0, F.lit("Tiny."))
        .otherwise(F.lit("Final line with enough words here.")),
    )
    # r12: synthesized crawl URL exercising every canonicalization
    # rule branch (mixed-case scheme/host, default vs explicit port,
    # trailing slash, utm_/named tracking params, unsorted params,
    # fragment, schemeless passthrough)
    d = F.col("doc_id")
    url_built = F.concat(
        F.lit("HTTP://Crawl-"),
        (d % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(d % 3 == 0, F.lit(":80"))
        .when(d % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/docs/"),
        F.col("source"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&z="),
        (d % 5).cast("string"),
        F.lit("&a=1"),
        F.when(d % 4 == 0, F.lit("&fbclid=abc")).otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    url = F.when(
        d % 13 == 0,
        F.concat(F.lit("no url here "), d.cast("string")),
    ).otherwise(url_built)
    # r16 opt: widen the one-task scan before the regex-heavy redact/
    # canonicalize/C4 stages (guide §2.5); every column is a pure
    # function of the row or of doc-keyed window verdicts
    from ..core.parallel import ensure_min_parallelism

    docs = ensure_min_parallelism(
        load(spark, sf_dir, "documents")
    ).select(
        "doc_id",
        F.concat(
            F.lit("reach me at "),
            F.col("source"),
            F.lit("_"),
            F.col("doc_id"),
            F.lit("@example.com or +1-555-01"),
            F.col("doc_id") % 90,
            F.lit(" host 192.168."),
            F.lit(100) + F.col("doc_id") % 156,
            F.lit(".7 "),
            F.col("text"),
        ).alias("raw"),
        c4_in.alias("c4_in"),
        url.alias("url"),
    )
    out = PiiRedactMapper("raw", output_field="redacted").map(docs)
    # r12: URL canonicalization stage (functions/web.py) — narrow
    # regexp/array algebra riding the same scan
    from ..functions.web import UrlCanonicalMapper

    out = UrlCanonicalMapper().map(out)
    # r5: the gate is now the full scrub pipeline — corpus-wide
    # word-unit exact dedup (DedupParagraphsMapper with sep=' ') of
    # the redacted text certifies the paragraph-dedup machinery
    # (explode, WindowGroupLimit first-occurrence, doc-order
    # reassembly, all-units-removed left-join edge) under the driver
    from ..functions.substring import DedupParagraphsMapper

    out = out.select(
        "doc_id", "n_pii_email", "n_pii_phone", "n_pii_ipv4",
        "redacted", "c4_in", "canon_url",
    ).withColumn("deduped", F.col("redacted"))
    out = DedupParagraphsMapper(
        text_field="deduped", sep=" "
    ).map(out)
    # r7: C4 cleaning stage (narrow — rides the same scan)
    out = C4CleanMapper(text_field="c4_in").map(out)
    return out.select(
        "doc_id", "n_pii_email", "n_pii_phone", "n_pii_ipv4",
        "redacted", "deduped", "n_removed", "c4_text", "c4_keep",
        "canon_url",
    )


@query(
    "decontaminate",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(words) - 7, 0)),
                   i -> array_to_string(words[i + 1 : i + 8], ' ')))
                   AS shingles
        FROM w
    ),
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
              WHERE doc_id % 40 = 0),
    inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    cnt AS (SELECT i.doc_id, count(*) AS n_overlap
            FROM inv i JOIN bench b ON i.s = b.s GROUP BY 1),
    -- r7: embedding-space decontamination against the SAME % 40
    -- benchmark slice (vec_id aligns with doc_id in the testdata):
    -- max cosine vs any benchmark vector, flagged at 0.35
    cem AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
    bem AS (SELECT * FROM cem WHERE vec_id % 40 = 0),
    sem AS (
        SELECT c.vec_id,
               round(max(list_dot_product(c.v, b.v) /
                     (sqrt(list_dot_product(c.v, c.v)) *
                      sqrt(list_dot_product(b.v, b.v)))), 6)
                   AS max_benchmark_sim
        FROM cem c CROSS JOIN bem b GROUP BY c.vec_id
    )
    SELECT s.doc_id,
           coalesce(c.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
           coalesce(c.n_overlap, 0) >= 1 AS contaminated,
           m.max_benchmark_sim,
           CAST(m.max_benchmark_sim >= 0.35 AS INT)
               AS semantic_contaminated
    FROM sh s LEFT JOIN cnt c ON s.doc_id = c.doc_id
    LEFT JOIN sem m ON s.doc_id = m.vec_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination, both modalities: 8-gram overlap of
    every document against a benchmark slice (doc_id % 40 == 0) —
    benchmark shingles broadcast, corpus side stays unshuffled — plus
    (r7) embedding-space decontamination
    (SemanticDecontaminateMapper: benchmark matrix broadcast, ONE
    Arrow-batched matmul stage, no shuffle) against the matching
    vec_id % 40 slice, left-joined back by doc_id = vec_id."""
    from ..functions.textstats import (
        DecontaminateMapper,
        SemanticDecontaminateMapper,
    )

    # r16 opt probe: widening this scan was tried and REVERTED
    # (1.26 -> 1.73 s): the corpus side is deliberately unshuffled
    # (benchmark side broadcasts) and the added exchange also rode the
    # benchmark-derivation branch (OPTIMIZATION_r16.md)
    docs = load(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    bench = docs.filter(F.col("doc_id") % 40 == 0)
    out = DecontaminateMapper(
        bench, shingle_size=8, min_overlap=1, mode="flag"
    ).map(docs)
    emb = load(spark, sf_dir, "embeddings")
    sem = SemanticDecontaminateMapper(
        emb.filter(F.col("vec_id") % 40 == 0), threshold=0.35
    ).map(emb)
    return out.select("doc_id", "n_overlap", "contaminated").join(
        sem.select(
            "vec_id", "max_benchmark_sim", "semantic_contaminated"
        ),
        out["doc_id"] == sem["vec_id"],
        "left",
    ).drop("vec_id")
