"""DSIR-style data selection (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling"): pick raw-corpus
documents whose hashed-unigram statistics look like a TARGET corpus,
by importance resampling rather than top-k filtering — resampling
preserves the target DISTRIBUTION (diversity included) where a hard
quality cutoff collapses onto the mode.  The reference has no
selection surface (additive, SURVEY.md §2.10).

Three composable pieces, all deterministic:

* :func:`with_importance_logweight` — per-doc log importance weight
  ``sum_w [log p_target(w) - log p_raw(w)]`` over the existing
  hashed-unigram tables (:func:`~smashed_spark.functions.classifier.
  fit_unigram_logprob_table` fit twice, once per corpus, same dims +
  hash_fn so buckets align).  The two tables fold into ONE difference
  array plan literal and the score is a single ``aggregate``
  fold — scan speed, zero exchanges, no UDF (the classifier-family
  pattern).

* :func:`gumbel_top_k` — sampling WITHOUT replacement proportional
  to ``exp(logw)`` via the Gumbel-max trick: per-row seeded Gumbel
  noise ``g = -ln(-ln(u))`` added to the log-weight, then global
  top-k.  ``u`` derives from ``md5(id ':' seed)`` (portable_hash32),
  so the draw is a pure function of the data + seed —
  partition-layout-invariant, reproducible, SQL-replayable.  The
  top-k compiles to ``TakeOrderedAndProject``: per-partition top-k
  then a driver merge of k rows — never a global sort, never a full
  exchange; k rows is the only thing that moves.

* :func:`gumbel_top_k_grouped` — the STRATIFIED variant: an
  independent draw of k per group (source/language/domain), so a
  large high-weight source cannot starve small ones.  The literal
  rank filter compiles to WindowGroupLimit (per-partition top-k
  before the one group-key exchange; no global sort anywhere).

* :func:`dsir_select` — the one-call composition: fit both tables,
  weight, resample.

Scale notes: table fits are one bucket-count exchange each (<= dims
rows collected — the fit's own contract); weighting is narrow; the
resample moves k rows.  At 10^9 docs selecting 10^7, a full-width
driver merge of k rows would not fit — :func:`dsir_select` routes
that case automatically (``slim=None``): above a documented driver
budget it draws on a ``(id, logw)`` projection and
broadcast-semi-joins the k winner ids back, so only slim rows ever
enter the TakeOrdered.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.order import null_key_guard
from .classifier import (
    MAX_NARROW_DIMS,
    _feature_index,
    _gram_stream,
    fit_unigram_logprob_table,
)
from .hashing import portable_hash32

__all__ = [
    "with_importance_logweight",
    "gumbel_top_k",
    "gumbel_top_k_grouped",
    "dsir_select",
    "with_prototypicality",
    "diversity_select",
]


def with_importance_logweight(
    df: DataFrame,
    target_table: Sequence[float],
    raw_table: Sequence[float],
    words_field: str = "words",
    weight_field: str = "dsir_logw",
    hash_fn: str = "md5",
    ngram: int = 1,
) -> DataFrame:
    """Add the DSIR log importance weight: ``sum over grams of
    (target_logprob[bucket] - raw_logprob[bucket])``.  Empty word
    arrays get 0.0 (an empty product of ratios); NULL word entries
    contribute nothing.  Both tables must share ``dims``, ``hash_fn``
    and ``ngram`` with this call — the paper's feature space is
    hashed n-grams (``ngram=2`` adds the word-order signal)."""
    if len(target_table) != len(raw_table):
        raise ValueError(
            f"table dims differ: target={len(target_table)} "
            f"raw={len(raw_table)} — fit both with the same dims"
        )
    dims = len(target_table)
    if dims == 0 or dims > MAX_NARROW_DIMS:
        raise ValueError(f"need 1 <= dims <= {MAX_NARROW_DIMS}")
    diff = [float(t) - float(r) for t, r in zip(target_table, raw_table)]
    darr = F.array(*[F.lit(x) for x in diff])
    # NULL words are filtered BEFORE the fold (the fit's "NULL words
    # carry no count" contract) — and necessarily so: inside a
    # higher-order-function lambda, `coalesce(element_at(arr, NULL))`
    # still poisons the whole aggregate to NULL (Spark lambda
    # null-propagation quirk, pinned in tests/test_selection.py).
    # _gram_stream does the filtering (and gram joining for ngram>1).
    words = _gram_stream(F.col(words_field), ngram)
    logw = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, w: acc
        + F.element_at(darr, _feature_index(w, dims, hash_fn) + F.lit(1)),
    )
    return df.withColumn(
        weight_field, F.coalesce(logw, F.lit(0.0))
    )


def _gumbel_perturbed_key(
    id_field: str, weight_field: str, seed: int, fn_name: str
) -> Column:
    """The shared seeded-noise construction of BOTH draw variants:
    ``logw - ln(-ln(u))`` with ``u = (md5_32(id ':' seed) + 0.5) /
    2^32`` (never exactly 0 or 1, so the double log is always
    finite), with the in-plan NULL-id / NULL-NaN-weight raises baked
    in.  One definition so the global and grouped draws can never
    silently diverge — the dsir_select gate certifies them against
    the SAME arithmetic."""
    guarded_id = null_key_guard(
        F.col(id_field), id_field, fn_name, f"id_field {id_field!r}"
    )
    w = F.col(weight_field).cast("double")
    guarded_w = F.when(
        w.isNull() | F.isnan(w),
        F.raise_error(
            F.lit(
                f"{fn_name}: weight_field {weight_field!r} has a "
                "NULL/NaN-free contract — score rows upstream or "
                "filter them before resampling."
            )
        ),
    ).otherwise(w)
    u = (
        portable_hash32(
            F.concat(guarded_id.cast("string"), F.lit(f":{seed}"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    return guarded_w - F.log(-F.log(u))


def gumbel_top_k(
    df: DataFrame,
    k: int,
    weight_field: str = "dsir_logw",
    id_field: str = "doc_id",
    seed: int = 13,
    key_field: Optional[str] = None,
) -> DataFrame:
    """Draw ``k`` rows without replacement with probability
    proportional to ``exp(weight_field)`` — the Gumbel-max trick:
    rank by ``logw - ln(-ln(u))`` with ``u`` a seeded per-row uniform
    from ``md5(id ':' seed)``.  Deterministic given (data, seed),
    partition-layout-invariant, and the plan is
    ``TakeOrderedAndProject`` (per-partition top-k + k-row driver
    merge — no global sort/exchange).

    A NULL ``id_field`` raises in-plan (it cannot seed a draw); a
    NULL weight raises too — score upstream or filter explicitly
    (silently ranking NULL-weight rows last would hide scoring bugs).
    Ties (astronomically unlikely with real weights) break by id for
    full determinism.  ``key_field`` optionally exposes the perturbed
    key for audit.

    ``id_field`` must be UNIQUE: duplicate ids share their Gumbel
    noise (``u`` is a pure function of id + seed), so two copies of
    one document carry correlated keys and the "without replacement"
    draw could return the same document twice.  Enforcing corpus-wide
    uniqueness in-plan would cost a full exchange before the top-k
    (defeating the TakeOrderedAndProject k-row-merge shape — the
    fuzzy/semantic dedup guards can ride an exchange their joins
    already pay; this plan has none), so the contract is enforced
    where a violation is actually observable AND free to check: a
    zero-exchange lag-over-sorted-ids guard over the k WINNERS raises
    on any duplicate id in the output.  A duplicate pair where only
    one copy wins leaves the output a valid set of distinct rows and
    stays the caller's contract."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    id_col = F.col(id_field)
    key = _gumbel_perturbed_key(
        id_field, weight_field, seed, "gumbel_top_k"
    )
    out = df
    name = key_field or "__gumbel_key__"
    out = out.withColumn(name, key)
    out = out.orderBy(F.col(name).desc(), id_col).limit(k)
    # Duplicate-winner guard (see docstring): duplicates sort adjacent
    # under ORDER BY id, and TakeOrderedAndProject's output is a
    # single partition, so the un-partitioned lag window needs NO
    # exchange and sorts only k rows.  It wraps BOTH carried identity
    # columns — weight_field AND id_field — because Catalyst prunes a
    # guard exactly when it prunes the column it rides: a downstream
    # projection that keeps only the ids (e.g. dsir_select's slim-path
    # semi-join) would prune a weight-only guard, and one that keeps
    # only the weights would prune an id-only guard.  To lose the
    # check a projection must drop both, at which point no duplicate
    # is observable in the output either.
    from pyspark.sql.window import Window

    prev_id = F.lag(id_col).over(Window.orderBy(id_col))
    dup = prev_id.eqNullSafe(id_col)
    guard_err = F.raise_error(
        F.concat(
            F.lit(
                f"gumbel_top_k: id_field {id_field!r} has "
                "duplicate value "
            ),
            id_col.cast("string"),
            F.lit(
                " among the selected rows — duplicate ids "
                "share Gumbel noise, turning the without-"
                "replacement draw into with-replacement. "
                "Dedup the id column upstream."
            ),
        )
    )
    out = out.select(
        *[
            F.when(dup, guard_err).otherwise(F.col(c)).alias(c)
            if c in (id_field, weight_field)
            else F.col(c)
            for c in out.columns
        ]
    )
    # the guard's id-sort changed row order; restore key-descending.
    # This re-sort is COSMETIC (k rows, exchange-free) — a convenience
    # presentation order, not a global-order contract of the API; the
    # contract is the SET of winners.
    out = out.orderBy(F.col(name).desc(), id_col)
    if key_field is None:
        out = out.drop(name)
    return out


def _estimated_row_bytes(schema) -> int:
    """Static per-row width FLOOR for :func:`dsir_select`'s
    driver-budget routing (strings/binaries 64 B, containers assumed
    64 elements deep).  Static schema widths are blind to actual data
    — a ``text string`` column is 64 B here whether the documents are
    tweets or 500 KB crawl pages — so the routing combines this floor
    with :func:`_sampled_row_bytes` (which sees real lengths) and
    takes the MAX.  The asymmetry that motivates erring large: a
    wrong "slim" verdict costs one extra narrow scan of the raw
    corpus, while a wrong "direct" verdict is a k-row full-width
    driver merge that can kill the driver at large k."""
    from pyspark.sql import types as T

    def width(dt) -> int:
        if isinstance(dt, (T.BooleanType, T.ByteType)):
            return 1
        if isinstance(dt, T.ShortType):
            return 2
        if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
            return 4
        if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType)):
            return 8
        if isinstance(dt, T.DecimalType):
            return 16
        if isinstance(dt, T.ArrayType):
            return 64 * width(dt.elementType)
        if isinstance(dt, T.MapType):
            return 64 * (width(dt.keyType) + width(dt.valueType))
        if isinstance(dt, T.StructType):
            return sum(width(f.dataType) for f in dt.fields)
        return 64  # string, binary, anything exotic

    return sum(width(f.dataType) for f in schema.fields)


def _sampled_row_bytes(df: DataFrame, n: int = 256) -> float:
    """Average serialized row width from a bounded ``n``-row sample —
    ONE tiny job (``limit(n)`` stops the scan after one partition's
    worth of rows).  JSON length tracks in-memory row width within a
    small factor AND, unlike static schema widths, sees the actual
    text/array lengths — the difference between routing a tweet
    corpus and a 500 KB-per-page crawl correctly.  Returns 0.0 on an
    empty frame (the static floor then decides)."""
    row = (
        df.limit(n)
        .select(
            F.length(F.to_json(F.struct(*df.columns))).alias("__w__")
        )
        .agg(F.avg("__w__").alias("__a__"))
        .collect()[0]
    )
    return float(row["__a__"]) if row["__a__"] is not None else 0.0


def gumbel_top_k_grouped(
    df: DataFrame,
    k: int,
    group_by,
    weight_field: str = "dsir_logw",
    id_field: str = "doc_id",
    seed: int = 13,
    key_field: Optional[str] = None,
) -> DataFrame:
    """STRATIFIED sampling without replacement: an independent
    Gumbel-top-k draw (see :func:`gumbel_top_k`) of ``k`` rows PER
    GROUP, proportional to ``exp(weight_field)`` within each group —
    the data-recipe step that keeps every source/language/domain
    represented where a single global draw would let a large
    high-weight source starve the small ones.  ``group_by`` is a
    column name or list of names.

    Same determinism contract as the global draw: the perturbed key
    is a pure function of (id, seed) so the selection is
    partition-layout-invariant and SQL-replayable (``ROW_NUMBER()
    OVER (PARTITION BY grp ORDER BY logw - ln(-ln(u)) DESC, id)``),
    and the same NULL-id / NULL-weight in-plan raises apply.  NULL
    group keys form their own group (Spark window semantics), so no
    row silently escapes a quota.

    Scale shape: the rank filter is a LITERAL (``rn <= k``), so
    Catalyst rewrites the window to WindowGroupLimit — per-partition
    top-k BEFORE the group exchange; only candidate rows move, and
    there is never a global sort.  ONE exchange on the group key
    total.  The duplicate-id guard of the global draw is NOT applied
    here: it would need a second window over a different key
    (id-order within group), and unlike the global path — where the
    guard rides the already-single-partition TakeOrdered output for
    free — that second sort is not free at per-group cardinalities;
    id uniqueness stays the caller's contract (the same one
    :func:`gumbel_top_k` documents)."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    groups: List[str] = (
        [group_by] if isinstance(group_by, str) else list(group_by)
    )
    if not groups:
        raise ValueError("group_by must name at least one column")
    id_col = F.col(id_field)
    key = _gumbel_perturbed_key(
        id_field, weight_field, seed, "gumbel_top_k_grouped"
    )
    name = key_field or "__gumbel_key__"
    win = Window.partitionBy(*groups).orderBy(
        F.col(name).desc(), id_col
    )
    out = (
        df.withColumn(name, key)
        .withColumn("__grank__", F.row_number().over(win))
        .filter(F.col("__grank__") <= k)
        .drop("__grank__")
    )
    if key_field is None:
        out = out.drop(name)
    return out


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    words_field: str = "words",
    dims: int = 4096,
    alpha: float = 1.0,
    hash_fn: str = "md5",
    id_field: str = "doc_id",
    seed: int = 13,
    weight_field: str = "dsir_logw",
    ngram: int = 1,
    slim: Optional[bool] = None,
    driver_budget_bytes: int = 256 << 20,
) -> DataFrame:
    """One-call DSIR: fit hashed n-gram tables on the target and raw
    corpora (two bounded fit jobs), weight every raw doc, Gumbel-top-k
    resample.  Returns the selected rows of ``raw_df`` with
    ``weight_field`` attached.

    The raw-side table is fit on ``raw_df`` itself (the paper's
    formulation — the denominator is the proposal distribution the
    sample actually comes from).

    **Driver-budget routing** (``slim``): the direct path's
    ``TakeOrderedAndProject`` merges k FULL rows on the driver — fine
    for k=200 gate-sized draws, fatal at k=10^7 over kilobyte
    documents (~a TB of driver merge).  When ``slim=None`` (auto) the
    function compares ``k x`` an estimated row width — the MAX of a
    static schema floor (:func:`_estimated_row_bytes`) and a bounded
    256-row sampled width (:func:`_sampled_row_bytes`, one tiny job,
    sees actual text lengths) — against ``driver_budget_bytes``
    (default 256 MiB): over budget, it runs :func:`gumbel_top_k` on a
    ``(id, logw)`` projection — so only slim rows ever enter the
    TakeOrdered — and broadcast-LEFT-SEMI-joins the k winner ids back
    against the weighted corpus.  Same winner SET (the draw is a pure
    function of (id, weight, seed), identical on both paths; the
    duplicate-winner guard survives the id-only projection because it
    wraps ``id_field`` too), at the cost of a second narrow scan of
    ``raw_df``.  Slim-path row ORDER is unspecified (it is a
    selection, not a ranking — the direct path's key-descending order
    is cosmetic anyway); sort the k-row result yourself if you need
    one.  ``slim=True``/``False`` forces a path."""
    target_table = fit_unigram_logprob_table(
        target_df, words_field=words_field, dims=dims, alpha=alpha,
        hash_fn=hash_fn, ngram=ngram,
    )
    raw_table = fit_unigram_logprob_table(
        raw_df, words_field=words_field, dims=dims, alpha=alpha,
        hash_fn=hash_fn, ngram=ngram,
    )
    weighted = with_importance_logweight(
        raw_df, target_table, raw_table,
        words_field=words_field, weight_field=weight_field,
        hash_fn=hash_fn, ngram=ngram,
    )
    if slim is None:
        # max(static floor, sampled actual): the static widths catch
        # wide schemas on empty/tiny frames; the bounded sample (one
        # tiny job) catches what static sizing cannot — long text in
        # a plain string column (review r11: a 500 KB-page corpus
        # under static-only sizing routed DIRECT and the k-row merge
        # would have been ~k x 500 KB on the driver)
        est = max(
            float(_estimated_row_bytes(weighted.schema)),
            _sampled_row_bytes(weighted),
        )
        slim = k * est > driver_budget_bytes
    if not slim:
        return gumbel_top_k(
            weighted, k, weight_field=weight_field, id_field=id_field,
            seed=seed,
        )
    winners = gumbel_top_k(
        weighted.select(id_field, weight_field),
        k,
        weight_field=weight_field,
        id_field=id_field,
        seed=seed,
    )
    return weighted.join(
        F.broadcast(winners.select(id_field)),
        on=id_field,
        how="left_semi",
    )


def with_prototypicality(
    df: DataFrame,
    centroids,
    vector_field: str = "embedding",
    cell_field: str = "cell",
    score_field: str = "proto_cos",
) -> DataFrame:
    """Attach the two columns D4-style diversity selection ranks on
    (Tirumala et al. 2023, "D4: Improving LLM Pretraining via Document
    De-Duplication and Diversification", arXiv:2308.12284):
    ``cell_field`` — the document's spherical-kmeans cluster under the
    INJECTED quantizer (fit once with :func:`~smashed_spark.functions.
    similarity.fit_ivf_index`, persist, inject — the same
    fit-once-score-many contract as semantic dedup) — and
    ``score_field`` — the cosine of the document's unit embedding to
    its cluster centroid, the *prototypicality*: high = the cluster's
    redundant core, low = its diverse tail.

    One Arrow-batched matmul stage, fully narrow — score a corpus at
    scan speed, write the result as an attribute sidecar
    (:func:`~smashed_spark.sources.attributes.write_attributes`), and
    re-curate by join without ever re-scoring.  Zero-norm embeddings
    get cell 0 / cosine 0.0 (documented in
    :func:`~smashed_spark.functions.similarity.assign_cells_scored`).

    The reference has no embedding surface (additive, SURVEY.md §2.10).
    """
    import numpy as np

    from .hashing import unit_rows
    from .similarity import assign_cells_scored

    if cell_field in df.columns or score_field in df.columns:
        raise ValueError(
            f"with_prototypicality: output column "
            f"{cell_field!r}/{score_field!r} already exists on the "
            "input — pick different names or drop the stale columns"
        )
    cents = unit_rows(np.asarray(centroids, dtype=np.float64))
    base = df.withColumn(
        "__v__",
        F.transform(F.col(vector_field), lambda x: x.cast("double")),
    )
    scored = assign_cells_scored(base, cents)
    return (
        scored.withColumn(cell_field, F.col("__cell__"))
        .withColumn(score_field, F.col("__cos__"))
        .drop("__v__", "__cell__", "__cos__")
    )


def diversity_select(
    df: DataFrame,
    centroids,
    keep_fraction: Optional[float] = None,
    per_cell: Optional[int] = None,
    keep: str = "diverse",
    vector_field: str = "embedding",
    id_field: str = "vec_id",
    cell_field: str = "cell",
    score_field: str = "proto_cos",
    rank_field: Optional[str] = None,
) -> DataFrame:
    """Cluster-balanced diversity selection — the D4 pruning step that
    runs AFTER dedup: rank every document within its semantic cluster
    by prototypicality (:func:`with_prototypicality`) and keep the
    ``keep="diverse"`` tail (lowest cosine to the centroid — D4's
    SSL-prototypes pruning drops the redundant core) or the
    ``keep="prototypical"`` core (highest cosine — the "most
    representative examples" view).  Exactly one of ``keep_fraction``
    (per-cluster fraction, >= 1 doc per non-empty cluster via ceil) or
    ``per_cell`` (fixed per-cluster cap) must be given.  Cluster
    balance is the point: a global score cutoff would empty small
    clusters first and collapse the corpus onto its dominant modes.

    Determinism: the quantizer is injected (same centroids every run),
    the ranking tie-breaks on ``id_field``, and the per-cell count is
    exact — the selection is a pure function of (data, centroids),
    partition-layout-invariant and SQL-replayable (the driver gate's
    oracle replays fit + assignment + ranking from scratch).

    Scale shape: scoring is one narrow Arrow matmul stage; the ranking
    is ONE exchange on the cell key.  With ``per_cell`` the rank
    filter is a literal, so Catalyst rewrites the window to
    WindowGroupLimit (per-partition top-n pre-shuffle — only
    candidates move); with ``keep_fraction`` the threshold needs the
    cell's count, which is a second window function over the SAME
    partition key — it rides the one exchange, no extra shuffle.
    Cells are quantizer-balanced (~N/k docs), so no skew salting is
    needed; a pathological quantizer shows up in
    :func:`~smashed_spark.functions.dedup.dedup_report`-style cell
    histograms before it hurts."""
    from pyspark.sql.window import Window

    if (keep_fraction is None) == (per_cell is None):
        raise ValueError(
            "diversity_select: pass exactly one of keep_fraction or "
            "per_cell"
        )
    if keep_fraction is not None and not (0.0 < keep_fraction <= 1.0):
        raise ValueError(
            f"diversity_select: keep_fraction must be in (0, 1], got "
            f"{keep_fraction}"
        )
    if per_cell is not None and per_cell < 1:
        raise ValueError(
            f"diversity_select: per_cell must be >= 1, got {per_cell}"
        )
    if keep not in ("diverse", "prototypical"):
        raise ValueError(
            "diversity_select: keep must be 'diverse' or "
            f"'prototypical', got {keep!r}"
        )
    scored = with_prototypicality(
        df, centroids, vector_field=vector_field,
        cell_field=cell_field, score_field=score_field,
    )
    order = (
        F.col(score_field).asc()
        if keep == "diverse"
        else F.col(score_field).desc()
    )
    w = Window.partitionBy(cell_field).orderBy(order, F.col(id_field))
    rank = rank_field or "__dsel_rank__"
    ranked = scored.withColumn(rank, F.row_number().over(w))
    if per_cell is not None:
        out = ranked.filter(F.col(rank) <= per_cell)
    else:
        # count(*) over the same partition key rides the same exchange
        cnt = F.count(F.lit(1)).over(Window.partitionBy(cell_field))
        # ceil over an epsilon-nudged product (calibrate.py's _K_EPS
        # convention): keep_fraction * cnt can land one IEEE ulp ABOVE
        # an exact integer and ceil would then keep one extra row per
        # cell, diverging from exact-arithmetic oracle replays.
        # greatest(1, ...) preserves the ">= 1 doc per non-empty
        # cluster" contract for tiny fractions.
        thr = F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(
                F.lit(float(keep_fraction)) * cnt.cast("double")
                - F.lit(1e-9)
            ),
        )
        out = ranked.withColumn(
            "__dsel_keep__", F.col(rank) <= thr
        ).filter(F.col("__dsel_keep__")).drop("__dsel_keep__")
    return out if rank_field else out.drop(rank)
