"""Approximate nearest-neighbor search over an embedding column.

Two tiers:

* :class:`CosineTopK` — brute-force exact top-k: cross join queries ×
  corpus, rank with a window partitioned *by query* (parallel across
  queries, no global sort).  The baseline and the verifier.
* :class:`HyperplaneLSHTopK` — random-hyperplane LSH (Charikar 2002):
  sign-bit signatures from deterministic pseudo-random hyperplanes,
  multi-probe via several independent tables; candidates only join
  within matching buckets, then exact cosine re-ranks.  Cost scales
  with bucket occupancy instead of corpus size — the 100 TB path.

The hyperplanes are generated from a hash of (table, bit, dim) so both
driver restarts and the DuckDB oracle can reproduce them without
shipping any state.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core.mapper import SparkMapper
from ..core.sizing import fits
from .hashing import (
    broadcast_matrix,
    cosine_block,
    cosine_rows,
    guarded_cosine,
    unit_rows,
    vector_dims,
    vector_dot,
    vector_norm,
)


class CosineTopK(SparkMapper):
    """Exact cosine top-k neighbors for each query vector.

    ``queries_filter`` limits the query side (e.g. ``vec_id < 100``);
    the corpus side stays full.  The corpus side is broadcast when it
    fits (``BROADCAST_LIMIT_BYTES`` by Catalyst's plan-time size
    estimate — no probe job when the estimate is known, which covers
    every file-backed source; an unknown estimate falls back to ONE
    bounded ``limit``-probe job).  Beyond that, exact kNN
    is inherently O(Q×N): the cross-join path is a scale-killer at
    corpus sizes too big to broadcast, so it must be explicitly opted
    into with ``force_exact=True`` — otherwise this raises and points
    at :class:`HyperplaneLSHTopK` / :class:`IVFCosineTopK` (the 100 TB
    paths, which rerank with this class's math inside buckets).  The
    size check is the only plan selector; a test or a tool reaches the
    cross-join tier by setting the class caps to 0 with
    ``force_exact=True``.  An all-zero vector has cosine 0.0 to
    everything on both tiers, and an empty corpus gives an empty
    result.
    """

    def __init__(
        self,
        id_field: str = "vec_id",
        vector_field: str = "embedding",
        k: int = 5,
        queries_filter: Optional[str] = None,
        exclude_self: bool = True,
        force_exact: bool = False,
    ) -> None:
        self.id_field = id_field
        self.vector_field = vector_field
        self.k = k
        self.queries_filter = queries_filter
        self.exclude_self = exclude_self
        self.force_exact = force_exact
        super().__init__(input_fields=[id_field, vector_field])

    # corpus matrix broadcast cap (Catalyst size estimate; float arrays
    # barely compress, so parquet bytes ~ in-memory matrix bytes)
    BROADCAST_LIMIT_BYTES = 128 << 20
    # fallback cap when the plan-time estimate is unknown (local /
    # RDD-backed frames only — never file-backed production inputs)
    BROADCAST_LIMIT_ROWS = 200_000

    def apply(self, df: DataFrame) -> DataFrame:
        if fits(df, self.BROADCAST_LIMIT_ROWS, self.BROADCAST_LIMIT_BYTES):
            return self._apply_broadcast_matrix(df)
        if not self.force_exact:
            raise ValueError(
                "corpus exceeds BROADCAST_LIMIT_BYTES="
                f"{self.BROADCAST_LIMIT_BYTES}: exact top-k would be "
                "an O(Q x N) cross join. Use HyperplaneLSHTopK or "
                "IVFCosineTopK (bucketed ANN + exact rerank), or pass "
                "force_exact=True to run it anyway."
            )
        return self._apply_pairwise_expr(df)

    def _apply_broadcast_matrix(self, df: DataFrame) -> DataFrame:
        """Broadcast the corpus matrix; each partition of the query side
        scores against it with one BLAS matmul and selects its top-k
        locally — no join, no shuffle except the trivially small
        result."""
        import numpy as np
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        b = broadcast_matrix(df, self.vector_field, self.id_field)
        k, exclude_self = self.k, self.exclude_self
        id_field, vector_field = self.id_field, self.vector_field

        queries = df
        if self.queries_filter:
            queries = df.filter(self.queries_filter)
        queries = queries.select(id_field, vector_field)

        schema = StructType(
            [
                StructField("query_id", LongType()),
                StructField("neighbor_id", LongType()),
                StructField("sim", DoubleType()),
                StructField("rank", LongType()),
            ]
        )

        def run(batches):
            import pandas as pd

            c_ids, c_mat, c_norms = b.value
            for pdf in batches:
                out = {"query_id": [], "neighbor_id": [], "sim": [], "rank": []}
                if len(pdf) == 0:
                    yield pd.DataFrame(out)
                    continue
                q_ids = pdf[id_field].to_numpy(dtype=np.int64)
                q_mat = np.array(list(pdf[vector_field]), dtype=np.float64)
                sims = cosine_block(q_mat, c_mat, c_norms)
                for qi in range(len(q_ids)):
                    s = sims[qi]
                    mask = np.ones(len(c_ids), dtype=bool)
                    if exclude_self:
                        mask &= c_ids != q_ids[qi]
                    idx = np.nonzero(mask)[0]
                    # order: sim desc, neighbor_id asc (oracle tie-break)
                    order = np.lexsort((c_ids[idx], -s[idx]))[:k]
                    chosen = idx[order]
                    out["query_id"].extend([int(q_ids[qi])] * len(chosen))
                    out["neighbor_id"].extend(c_ids[chosen].tolist())
                    out["sim"].extend(s[chosen].tolist())
                    out["rank"].extend(range(1, len(chosen) + 1))
                yield pd.DataFrame(out)

        from ..core.ship import ensure_shipped

        ensure_shipped(df.sparkSession)
        return queries.mapInPandas(run, schema=schema)

    def _apply_pairwise_expr(self, df: DataFrame) -> DataFrame:
        # norms precomputed once per vector (narrow); each of the Q x N
        # pairs then costs a single dot product — arithmetic identical
        # to dot/(norm_q*norm_c)
        base = df.select(
            F.col(self.id_field).alias("__cid__"),
            F.transform(
                F.col(self.vector_field), lambda x: x.cast("double")
            ).alias("__cv__"),
        ).withColumn("__cn__", vector_norm(F.col("__cv__")))
        corpus = base
        queries = base.select(
            F.col("__cid__").alias("__qid__"),
            F.col("__cv__").alias("__qv__"),
            F.col("__cn__").alias("__qn__"),
        )
        if self.queries_filter:
            ids = df.filter(self.queries_filter).select(
                F.col(self.id_field).alias("__qid__")
            )
            queries = queries.join(F.broadcast(ids), "__qid__")
        joined = queries.crossJoin(corpus)
        if self.exclude_self:
            joined = joined.filter(F.col("__qid__") != F.col("__cid__"))
        sim = guarded_cosine(
            vector_dot(F.col("__qv__"), F.col("__cv__")),
            F.col("__qn__"),
            F.col("__cn__"),
        )
        scored = joined.select(
            F.col("__qid__").alias("query_id"),
            F.col("__cid__").alias("neighbor_id"),
            F.round(sim, 6).alias("sim"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", "neighbor_id", "sim", "rank")
        )


def exact_cosine_scores(
    cand: DataFrame,
    id_a: str = "query_id",
    id_b: str = "neighbor_id",
    va: str = "__qv__",
    vb: str = "__cv__",
) -> DataFrame:
    """Vectorized exact cosine over candidate pairs: one einsum (BLAS)
    per Arrow batch instead of an interpreted per-pair expression fold.
    Returns ``(id_a, id_b, sim)`` with sim rounded to 6 places (0.0
    for a pair with an all-zero vector)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..core.ship import ensure_shipped

    ensure_shipped(cand.sparkSession)
    schema = StructType(
        [
            StructField(id_a, LongType()),
            StructField(id_b, LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({id_a: [], id_b: [], "sim": []})
                continue
            q = np.array(list(pdf[va]), dtype=np.float64)
            c = np.array(list(pdf[vb]), dtype=np.float64)
            sims = cosine_rows(q, c)
            yield pd.DataFrame(
                {
                    id_a: pdf[id_a].to_numpy(),
                    id_b: pdf[id_b].to_numpy(),
                    "sim": sims,
                }
            )

    return cand.select(id_a, id_b, va, vb).mapInPandas(score, schema=schema)


def _hyperplane(table: int, bit: int, dims: int) -> list:
    """Deterministic pseudo-random hyperplane components in [-1, 1),
    generated driver-side (md5-seeded) so the per-row signature is a
    single fold over a literal array instead of a dims-wide expression
    tree (which blows past the codegen method-size limit)."""
    import hashlib

    out = []
    for d in range(dims):
        h = int(
            hashlib.md5(f"{table}:{bit}:{d}".encode()).hexdigest()[:8], 16
        )
        out.append((h % 10_000) / 5_000.0 - 1.0)
    return out


def hyperplane_signature(
    vec: Column, table: int, num_bits: int, dims: int
) -> Column:
    """``num_bits``-bit sign-pattern bucket id of ``vec`` against the
    deterministic hyperplanes of ``table`` (Charikar 2002)."""
    bits = []
    for b in range(num_bits):
        plane = F.array(*[F.lit(c) for c in _hyperplane(table, b, dims)])
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(2 ** b)).otherwise(F.lit(0)))
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out.cast("bigint")


def hyperplane_buckets(
    vec: Column, num_tables: int, num_bits: int, dims: int
) -> Column:
    """``array<bigint>`` of per-table bucket ids for ``vec`` — same
    md5-derived hyperplanes as :func:`hyperplane_signature`, but all
    ``num_tables * num_bits`` dot products computed as ONE BLAS matmul
    per Arrow batch instead of an interpreted per-plane aggregate fold
    (which cost O(tables * bits * dims) expression-tree evaluations per
    row and dominated the LSH gate's runtime)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [
            _hyperplane(t, b, dims)
            for t in range(num_tables)
            for b in range(num_bits)
        ],
        dtype=np.float64,
    )  # (T*B, D)
    weights = 1 << np.arange(num_bits, dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(list(v), dtype=np.float64)  # (N, D)
        dots = mat @ planes.T  # (N, T*B)
        bits = (dots >= 0).reshape(len(v), num_tables, num_bits)
        ids = (bits * weights).sum(axis=2, dtype=np.int64)  # (N, T)
        return pd.Series(list(ids))

    return _buckets(vec)


class HyperplaneLSHTopK(SparkMapper):
    """Approximate cosine top-k via random-hyperplane LSH.

    Each of ``num_tables`` independent tables assigns a
    ``num_bits``-bit bucket signature (sign of dot with each
    hyperplane).  Vectors join only within (table, bucket); exact
    cosine then ranks candidates and keeps k per query.

    Parameter -> recall (Charikar 2002: two vectors at angle θ agree
    on one sign bit with probability 1 - θ/π): a neighbor is found iff
    it shares a bucket in ≥1 table, P = 1 - (1 - p^num_bits)^num_tables
    with p the per-bit agreement.  So ``num_bits`` controls bucket
    size/cost (≈ n / 2^num_bits occupancy on centered data) and recall
    falls exponentially in it; ``num_tables`` buys recall back
    linearly in cost.  For high-similarity targets (near-dup, p close
    to 1) the defaults are ample; for mid-similarity top-k (p ≈ 0.6-
    0.7, e.g. uniform-random corpora) prefer SHORT signatures and more
    tables — 3 bits × 16 tables measures recall ≥ 0.9 on the
    worst-case random fixture where 4 × 8 measures 0.57
    (tests/test_dedup_similarity.py::test_lsh_topk_recall).
    """

    def __init__(
        self,
        id_field: str = "vec_id",
        vector_field: str = "embedding",
        k: int = 5,
        num_bits: int = 8,
        num_tables: int = 4,
        queries_filter: Optional[str] = None,
        exclude_self: bool = True,
        dims: Optional[int] = None,
    ) -> None:
        self.id_field = id_field
        self.vector_field = vector_field
        self.k = k
        self.num_bits = num_bits
        self.num_tables = num_tables
        self.queries_filter = queries_filter
        self.exclude_self = exclude_self
        self.dims = dims
        super().__init__(input_fields=[id_field, vector_field])

    def apply(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.types import ArrayType

        dtype = df.schema[self.vector_field].dataType
        assert isinstance(dtype, ArrayType)
        # dims must be known to build the plan; pass dims= to avoid the
        # one-row probe job at plan-construction time
        dims = vector_dims(df, self.vector_field, self.dims)
        if dims is None:  # empty corpus
            return df.select(
                F.col(self.id_field).alias("query_id"),
                F.col(self.id_field).alias("neighbor_id"),
                F.lit(0.0).alias("sim"),
                F.lit(0).alias("rank"),
            ).limit(0)

        vec = F.col(self.vector_field)
        base = df.select(
            F.col(self.id_field).alias("__id__"),
            vec.alias("__v__"),
            F.posexplode(
                hyperplane_buckets(
                    vec, self.num_tables, self.num_bits, dims
                )
            ).alias("__t__", "__b__"),
        )
        queries = base
        if self.queries_filter:
            ids = df.filter(self.queries_filter).select(
                F.col(self.id_field).alias("__id__")
            )
            queries = base.join(F.broadcast(ids), "__id__")
        l = queries.alias("l")
        r = base.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.__t__") == F.col("r.__t__"))
                & (F.col("l.__b__") == F.col("r.__b__")),
            )
            .select(
                F.col("l.__id__").alias("query_id"),
                F.col("r.__id__").alias("neighbor_id"),
                F.col("l.__v__").alias("__qv__"),
                F.col("r.__v__").alias("__cv__"),
            )
        )
        if self.exclude_self:
            cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
        # vectorized rerank: row-wise einsum over Arrow batches instead
        # of an interpreted per-pair aggregate fold
        scored = exact_cosine_scores(cand)
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", "neighbor_id", "sim", "rank")
        )


def fit_ivf_centroids(
    mat, n_centroids: int, seed: int, max_iter: int
):
    """Spherical k-means (Lloyd) on an in-memory float64 matrix whose
    ROW ORDER is deterministic (callers hash-order the fit set), so the
    seeded init — and therefore the centroids — are bit-reproducible.
    Shared by :class:`IVFCosineTopK` and the DuckDB oracle builder,
    which replays the identical arithmetic driver-side to embed the
    centroids as SQL literals."""
    import numpy as np

    unit = unit_rows(mat)
    rng = np.random.RandomState(seed)
    k = min(n_centroids, len(unit))
    centroids = unit[rng.choice(len(unit), size=k, replace=False)]
    for _ in range(max_iter):
        cell = np.argmax(unit @ centroids.T, axis=1)
        for c in range(k):
            members = unit[cell == c]
            if len(members):
                m = members.sum(axis=0)
                centroids[c] = unit_rows(m)
    return centroids


def fit_centroids_sampled(
    base: DataFrame,
    n_centroids: int,
    seed: int,
    max_iter: int,
    fit_sample: int,
):
    """Spherical k-means on a BOUNDED driver-side sample of ``base``
    (columns ``__id__``, ``__v__``) — at most ``fit_sample`` vectors; a
    coarse quantizer needs a sample, not the corpus, at any scale.

    The fit set is the ``fit_sample`` rows with the smallest
    ``md5(id)`` — a deterministic *pseudo-random* sample, not the head
    of the data (a head sample on a corpus sorted by topic/time would
    show the quantizer only the first split's vectors).  Spark
    executes order-by+limit as TakeOrderedAndProject (per-partition
    top-n, no global sort), and the hash order makes the row order —
    hence the seeded init and the centroids — bit-reproducible, which
    is what lets DuckDB oracles replay the fit and embed the centroids
    as SQL literals.  Shared by :class:`IVFCosineTopK` and
    ``SemanticNearDupPairsMapper``.
    """
    import numpy as np

    rows = (
        base.orderBy(F.md5(F.col("__id__").cast("string")), F.col("__id__"))
        .limit(fit_sample)
        .select("__v__")
        .collect()
    )
    if not rows:
        raise ValueError("cannot fit centroids on an empty corpus")
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    return fit_ivf_centroids(mat, n_centroids, seed, max_iter)


def fit_ivf_index(
    df: DataFrame,
    id_field: str = "vec_id",
    vector_field: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    fit_sample: int = 100_000,
) -> "list[list[float]]":
    """Fit an IVF coarse quantizer once and get back a plain
    ``[[float]]`` centroid matrix — persist it anywhere (JSON, a
    parquet row, a model registry) and hand it to
    ``IVFCosineTopK(centroids=...)`` so query batches never re-fit.
    Deterministic (hash-ordered bounded sample + seeded Lloyd): the
    same corpus version always yields the same index."""
    base = df.select(
        F.col(id_field).alias("__id__"),
        F.transform(
            F.col(vector_field), lambda x: x.cast("double")
        ).alias("__v__"),
    )
    cent = fit_centroids_sampled(
        base, n_centroids, seed, max_iter, fit_sample
    )
    return [[float(x) for x in row] for row in cent]


def assign_cells(base: DataFrame, centroids) -> DataFrame:
    """Attach ``__cell__`` — the argmax-cosine centroid index — to a
    ``(__id__, __v__)`` frame: one argmax-matmul per Arrow batch
    against the broadcast (closure) centroids; ties take the lowest
    cell (numpy argmax), which oracles replay with a deterministic
    ROW_NUMBER tie-break."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    from ..core.ship import ensure_shipped

    ensure_shipped(base.sparkSession)
    cent_t = centroids.T.copy()

    @pandas_udf(IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        mat = np.array(list(v), dtype=np.float64)
        if mat.shape[1] != cent_t.shape[0]:
            # reachable via injected centroids (IVFCosineTopK /
            # SemanticNearDupPairsMapper centroids=): fail with the
            # actual mismatch, not a bare numpy shape error
            raise ValueError(
                f"assign_cells: vector dims {mat.shape[1]} != "
                f"centroid dims {cent_t.shape[0]} — the injected "
                "index was fit on a different embedding space"
            )
        unit_rows(mat, out=mat)
        return pd.Series(np.argmax(mat @ cent_t, axis=1).astype("int32"))

    return base.withColumn("__cell__", assign("__v__"))


def assign_cells_scored(base: DataFrame, centroids) -> DataFrame:
    """:func:`assign_cells` plus ``__cos__`` — the cosine of the row's
    UNIT vector to its winning centroid, i.e. the *prototypicality*
    score that D4-style diversity selection ranks on
    (:func:`~smashed_spark.functions.selection.diversity_select`).
    Same argmax matmul, same lowest-cell tie-break; the score comes
    from the SAME ``sims`` matrix the argmax read, so cell and score
    can never disagree.  Zero-norm vectors land in cell 0 with cosine
    0.0 (the all-zero row dots 0.0 with every centroid).  One Arrow
    stage, narrow — no exchange.

    ``centroids`` must already be unit-normalized (both fitters
    guarantee it; callers injecting external centroids normalize
    first, as :func:`~smashed_spark.functions.dedup.with_semantic_cells`
    does)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from ..core.ship import ensure_shipped

    ensure_shipped(base.sparkSession)
    cent_t = centroids.T.copy()
    out_type = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("cos", DoubleType()),
        ]
    )

    @pandas_udf(out_type)
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame(
                {
                    "cell": pd.Series([], dtype="int32"),
                    "cos": pd.Series([], dtype="float64"),
                }
            )
        mat = np.array(list(v), dtype=np.float64)
        if mat.shape[1] != cent_t.shape[0]:
            raise ValueError(
                f"assign_cells_scored: vector dims {mat.shape[1]} != "
                f"centroid dims {cent_t.shape[0]} — the injected "
                "index was fit on a different embedding space"
            )
        unit_rows(mat, out=mat)
        sims = mat @ cent_t
        cell = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                "cell": cell.astype("int32"),
                "cos": sims[np.arange(len(cell)), cell],
            }
        )

    scored = base.withColumn("__cc__", assign("__v__"))
    return scored.select(
        "*",
        F.col("__cc__.cell").alias("__cell__"),
        F.col("__cc__.cos").alias("__cos__"),
    ).drop("__cc__")


def ivf_probe_map(centroids, n_probe: int) -> dict:
    """cell -> its ``n_probe`` most-similar cells (including itself),
    from the tiny centroid×centroid similarity matrix."""
    import numpy as np

    cn = unit_rows(centroids)
    cell_sims = cn @ cn.T
    return {
        int(c): [int(x) for x in np.argsort(-cell_sims[c])[:n_probe]]
        for c in range(len(centroids))
    }


class IVFCosineTopK(SparkMapper):
    """Approximate cosine top-k via an IVF (inverted-file) index: a
    spherical-kmeans coarse quantizer (seeded numpy Lloyd on a bounded
    hash-ordered sample) partitions the corpus into ``n_centroids``
    cells; each query scores only the ``n_probe`` nearest cells, then
    exact cosine reranks the candidates.

    Scale: the corpus is scanned once for clustering and once for
    assignment; per-query cost drops from O(N) to O(N * n_probe /
    n_centroids) on average.  The centroid table is tiny and broadcast.

    Parameter -> recall: IVF recall is the probability the true
    neighbors' cells are among the ``n_probe`` probed — it depends on
    how much *cluster structure* the corpus has.  On clustered
    embeddings (the regime IVF exists for) neighbors share the query's
    cell and ``n_probe`` of 1-2 already measures recall ≈ 1.0
    (tests/test_dedup_similarity.py::test_ivf_topk_recall); on
    uniform-random vectors cells carry no neighbor signal and recall
    only approaches 1 as n_probe -> n_centroids, at which point use
    :class:`CosineTopK` or :class:`HyperplaneLSHTopK` instead.  Grow
    ``n_centroids`` ~ sqrt(N) so cells stay scan-able and the centroid
    broadcast stays small.

    Index reuse: pass ``centroids`` (a ``[[float]]`` matrix — e.g. the
    return of :func:`fit_ivf_index`, persisted anywhere) to skip
    the fit entirely: a production ANN service fits its quantizer once
    per corpus version and serves every query batch against it, and
    the deterministic fit means a re-fit on unchanged data reproduces
    the same index anyway.  ``n_centroids``/``seed``/``max_iter``/
    ``fit_sample`` are ignored when ``centroids`` is given.
    """

    def __init__(
        self,
        id_field: str = "vec_id",
        vector_field: str = "embedding",
        k: int = 5,
        n_centroids: int = 16,
        n_probe: int = 4,
        queries_filter: Optional[str] = None,
        exclude_self: bool = True,
        seed: int = 42,
        max_iter: int = 5,
        fit_sample: int = 100_000,
        centroids: Optional[Sequence[Sequence[float]]] = None,
    ) -> None:
        if centroids is not None:
            if len(centroids) < 1:
                raise ValueError("centroids must be non-empty")
            dims = {len(c) for c in centroids}
            if len(dims) != 1 or 0 in dims:
                raise ValueError(
                    "centroids must be a rectangular non-empty matrix"
                )
            if n_probe > len(centroids):
                raise ValueError(
                    f"n_probe={n_probe} exceeds the {len(centroids)} "
                    "provided centroids"
                )
        self.id_field = id_field
        self.vector_field = vector_field
        self.k = k
        self.n_centroids = n_centroids
        self.n_probe = n_probe
        self.queries_filter = queries_filter
        self.exclude_self = exclude_self
        self.seed = seed
        self.max_iter = max_iter
        self.fit_sample = fit_sample
        self.centroids = centroids
        super().__init__(input_fields=[id_field, vector_field])

    def _fit_centroids(self, base: DataFrame) -> "np.ndarray":  # noqa: F821
        """Spherical k-means on a BOUNDED driver-side sample (at most
        ``fit_sample`` vectors — a coarse quantizer needs a sample, not
        the corpus, at any scale).  Plain numpy Lloyd iterations: one
        tiny collect job instead of MLlib's per-iteration job storm
        (KMeans.fit was ~2/3 of this operator's wall time).

        The fit set is the ``fit_sample`` rows with the smallest
        ``md5(id)`` — a deterministic *pseudo-random* sample, not the
        head of the data (a head sample on a corpus sorted by
        topic/time would show the quantizer only the first split's
        vectors).  Spark executes order-by+limit as
        TakeOrderedAndProject (per-partition top-n, no global sort),
        and the hash order makes the row order — hence the seeded init
        and the centroids — bit-reproducible, which is what lets the
        DuckDB oracle replay the fit and embed the centroids as
        literals."""
        try:
            return fit_centroids_sampled(
                base,
                self.n_centroids,
                self.seed,
                self.max_iter,
                self.fit_sample,
            )
        except ValueError as e:
            raise ValueError(f"IVFCosineTopK: {e}") from None

    def apply(self, df: DataFrame) -> DataFrame:
        import numpy as np
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import IntegerType

        from ..core.ship import ensure_shipped

        ensure_shipped(df.sparkSession)

        # 1. coarse quantizer on unit vectors (cosine cells), fit on a
        #    bounded sample; cell assignment is one argmax-matmul per
        #    Arrow batch against the broadcast (closure) centroids
        base = df.select(
            F.col(self.id_field).alias("__id__"),
            F.transform(
                F.col(self.vector_field), lambda x: x.cast("double")
            ).alias("__v__"),
        )
        if self.centroids is not None:
            # injected index: normalize to unit vectors (cosine cells)
            # exactly as the fit would have
            centroids = unit_rows(
                np.asarray(self.centroids, dtype=np.float64)
            )
        else:
            centroids = self._fit_centroids(base)
        assigned = assign_cells(base, centroids)

        # 2. driver-side: for each query cell we need its n_probe
        #    nearest centroids (tiny matrix)
        probes = ivf_probe_map(centroids, self.n_probe)
        probe_map = F.map_from_arrays(
            F.array(*[F.lit(c) for c in probes]),
            F.array(
                *[
                    F.array(*[F.lit(p) for p in ps])
                    for c, ps in probes.items()
                ]
            ),
        )

        # 3. queries explode over their probe cells; join candidates on
        #    the cell id (hash shuffle on small cell keys)
        queries = assigned
        if self.queries_filter:
            ids = df.filter(self.queries_filter).select(
                F.col(self.id_field).alias("__id__")
            )
            queries = assigned.join(F.broadcast(ids), "__id__")
        queries = queries.select(
            F.col("__id__").alias("query_id"),
            F.col("__v__").alias("__qv__"),
            F.explode(probe_map[F.col("__cell__")]).alias("__cell__"),
        )
        cand = queries.join(
            assigned.select(
                F.col("__id__").alias("neighbor_id"),
                F.col("__v__").alias("__cv__"),
                "__cell__",
            ),
            "__cell__",
        )
        if self.exclude_self:
            cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])

        # 4. exact cosine rerank (vectorized) + top-k per query
        scored = exact_cosine_scores(cand)
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", "neighbor_id", "sim", "rank")
        )
