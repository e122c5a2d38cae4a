"""Source loaders (reference: src/smashed/mappers/loaders.py).

The reference's loader mappers take rows that *carry file paths* and
yield one row per record of each file (CsvLoaderMapper,
JsonlLoaderMapper, loaders.py:139-192), plus a HF-dataset loader that
combines sources by concatenation or interleaving (loaders.py:37-136).

Spark-first: file reading belongs to ``spark.read`` (distributed,
splittable, predicate-pushdown).  The path-column-driven variants
collect the path list (metadata-scale, not data-scale) and hand it to
the DataSource API; S3 paths work via Hadoop's ``s3a://`` natively
(the reference needs smart_open + boto, io_utils/multipath.py).
"""

from __future__ import annotations

from functools import reduce
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.mapper import SparkMapper
from ..core.order import unique_key_guard


class CsvLoaderMapper(SparkMapper):
    """Rows carry CSV paths in ``paths_field``; output is one row per
    CSV record across all files (reference loaders.py:139-168).

    ``headers=None`` uses each file's first line as the header (the
    ``csv.DictReader`` default); pass an explicit list to name the
    columns of header-less files.
    """

    def __init__(
        self,
        paths_field: str,
        headers: Optional[List[str]] = None,
        encoding: str = "utf-8",
        **reader_options,
    ) -> None:
        self.paths_field = paths_field
        self.headers = list(headers) if headers else None
        self.encoding = encoding
        self.reader_options = dict(reader_options)
        super().__init__(input_fields=[paths_field])

    def apply(self, df: DataFrame) -> DataFrame:
        paths = [
            r[0] for r in df.select(self.paths_field).distinct().collect()
        ]
        spark = df.sparkSession
        reader = spark.read.options(
            encoding=self.encoding, **self.reader_options
        )
        if self.headers is None:
            return reader.csv(paths, header=True)
        out = reader.csv(paths, header=False)
        return out.toDF(*self.headers)


class JsonlLoaderMapper(SparkMapper):
    """Rows carry JSONL paths; output is one row per JSON line
    (reference loaders.py:171-192).

    Pass ``schema`` (DDL string or StructType) to skip schema
    inference — inference is an extra full scan of every file, which
    at 100 TB doubles the read.
    """

    def __init__(
        self, paths_field: str, encoding: str = "utf-8", schema=None
    ) -> None:
        self.paths_field = paths_field
        self.encoding = encoding
        self.schema = schema
        super().__init__(input_fields=[paths_field])

    def apply(self, df: DataFrame) -> DataFrame:
        paths = [
            r[0] for r in df.select(self.paths_field).distinct().collect()
        ]
        reader = df.sparkSession.read.option("encoding", self.encoding)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.json(paths)


class OrcLoaderMapper(SparkMapper):
    """Rows carry ORC dataset paths; output is one row per record
    across all files — the ORC face of the Csv/Jsonl loader pattern
    (no reference analogue: the reference loads CSV/JSONL only;
    sources/sinks.py ``write_orc`` is the matching sink).  ORC is
    self-describing, so no schema/inference options: the footer IS
    the schema, read at planning time for free."""

    def __init__(self, paths_field: str) -> None:
        self.paths_field = paths_field
        super().__init__(input_fields=[paths_field])

    def apply(self, df: DataFrame) -> DataFrame:
        paths = [
            r[0] for r in df.select(self.paths_field).distinct().collect()
        ]
        return df.sparkSession.read.orc(paths)


class SnapshotLoaderMapper(SparkMapper):
    """Rows carry snapshot TABLE ROOTS (sources/snapshot.py) in
    ``roots_field``; output is the union-by-name of each table's
    resolved snapshot — the governed-table loader in the same
    pipeline shape as the file loaders above, so a curation pipeline
    can start from versioned tables instead of raw paths.

    ``version``/``tag``/``as_of`` (mutually exclusive) time-travel
    every listed table — ``as_of`` is an instant (epoch seconds or a
    tz-aware datetime; see ``resolve_snapshot``); ``where`` applies
    the envelope file-skipping + re-filter contract of
    ``read_snapshot`` per table.  Beyond-reference surface: the
    reference's loaders (loaders.py:100-192) read raw files and have
    no table/catalog notion.
    """

    def __init__(
        self,
        roots_field: str,
        version: Optional[int] = None,
        tag: Optional[str] = None,
        where=None,
        as_of=None,
    ) -> None:
        if sum(x is not None for x in (version, tag, as_of)) > 1:
            raise ValueError(
                "SnapshotLoaderMapper: version=, tag=, and as_of= are "
                "mutually exclusive (each names one snapshot)"
            )
        self.roots_field = roots_field
        self.version = version
        self.tag = tag
        self.as_of = as_of
        self.where = list(where) if where is not None else None
        super().__init__(input_fields=[roots_field])

    def apply(self, df: DataFrame) -> DataFrame:
        from .snapshot import read_snapshot, resolve_tag

        roots = [
            r[0] for r in df.select(self.roots_field).distinct().collect()
        ]
        if not roots:
            raise ValueError(
                "SnapshotLoaderMapper: no table roots in "
                f"{self.roots_field!r} — an empty loader input is "
                "almost always an upstream bug"
            )
        spark = df.sparkSession
        outs = []
        for root in sorted(roots):
            version = self.version
            if self.tag is not None:
                version = resolve_tag(root, self.tag).version
            outs.append(
                read_snapshot(
                    spark,
                    root,
                    version=version,
                    where=self.where,
                    as_of=self.as_of,
                )
            )
        merged = outs[0]
        for other in outs[1:]:
            merged = merged.unionByName(other)
        return merged


def concatenate_datasets(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union by name (reference combine_strategy='concatenate',
    loaders.py:100-116)."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=False), dfs
    )


INTERLEAVE_ORDER = "__interleave_order__"

# plan-time size (per source) above which rank-interleaving warns: the
# total order it implies cannot scale past metadata-size sources
INTERLEAVE_SIZE_WARN_BYTES = 1 << 30


def interleave_datasets(
    dfs: Sequence[DataFrame],
    order_by: Sequence[str],
    keep_order_column: bool = False,
) -> DataFrame:
    """Round-robin interleave (reference combine_strategy='interleave'):
    row i of source 0, row i of source 1, ..., like HF
    ``interleave_datasets`` — stops after the shortest source is
    exhausted (HF's default ``all_exhausted=False`` semantics).

    Spark DataFrames are unordered, so each source needs an explicit
    ``order_by``; the output carries ``__interleave_order__`` (rank,
    source) unless dropped, which downstream order-sensitive mappers
    can use as their ordering key.

    Scale: round-robin interleaving is inherently a total order, so
    each source pays one global ``row_number`` window (a single-task
    sort).  That is fine for the metadata-scale source lists this
    mapper exists for (reference loaders.py combines a handful of HF
    datasets); a source above ``INTERLEAVE_SIZE_WARN_BYTES`` by
    Catalyst's plan-time estimate triggers a warning pointing at
    fraction-sampling + union instead.  The shortest-source cutoff is
    derived lazily from windows over the union — no per-source
    ``count()`` jobs, no driver action at all.
    """
    import warnings

    from pyspark.sql.window import Window

    from ..core.sizing import plan_size_bytes

    big = [
        i
        for i, d in enumerate(dfs)
        if (plan_size_bytes(d) or 0) > INTERLEAVE_SIZE_WARN_BYTES
    ]
    if big:
        warnings.warn(
            f"interleave_datasets: source(s) {big} exceed "
            f"{INTERLEAVE_SIZE_WARN_BYTES >> 20} MiB by plan-time "
            "estimate; rank-interleaving totally orders each source "
            "(single-task sort) and will not scale. Mix data-scale "
            "corpora with sample_mix (fraction sampling + union) "
            "instead.",
            UserWarning,
            stacklevel=2,
        )
    ranked = []
    for src_idx, df in enumerate(dfs):
        w = Window.orderBy(*order_by)
        rn = F.row_number().over(w) - F.lit(1)
        ranked.append(
            df.withColumn("__rn__", rn).withColumn(
                "__src__", F.lit(src_idx)
            )
        )
    # shortest-source length without any count() action: per-source max
    # rank, then a global min — two cheap windows over already-ranked
    # (metadata-scale) data, evaluated in the same job as the output.
    # One SENTINEL row per source (rank -1, null payload) guarantees
    # every source is represented in the windows: an EMPTY source would
    # otherwise contribute no rows at all and the min would silently
    # skip its length of 0 (shortest-source semantics say the result
    # must then be empty).
    spark = dfs[0].sparkSession
    schema = ranked[0].schema
    sentinels = spark.range(len(dfs)).select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
            if f.name not in ("__rn__", "__src__")
        ],
        F.lit(-1).alias("__rn__"),
        F.col("id").cast("integer").alias("__src__"),
    )
    unioned = concatenate_datasets(ranked).unionByName(sentinels)
    src_len = F.max("__rn__").over(Window.partitionBy("__src__")) + 1
    shortest = F.min("__len__").over(Window.partitionBy(F.lit(1)))
    out = (
        unioned.withColumn("__len__", src_len)
        .withColumn("__n__", shortest)
        .filter(
            (F.col("__rn__") >= 0) & (F.col("__rn__") < F.col("__n__"))
        )
    )
    out = out.withColumn(
        INTERLEAVE_ORDER,
        F.col("__rn__") * len(dfs) + F.col("__src__"),
    ).drop("__rn__", "__src__", "__len__", "__n__")
    if not keep_order_column:
        out = out.orderBy(INTERLEAVE_ORDER).drop(INTERLEAVE_ORDER)
    return out


def sample_mix(
    dfs: Sequence[DataFrame],
    weights: Sequence[float],
    seed: int = 13,
    with_source: bool = False,
    source_column: str = "__source__",
    method: str = "rng",
    key_field: Optional[str] = None,
) -> DataFrame:
    """Data-scale corpus mixing: per-source Bernoulli sampling at the
    given rates + union — the scalable alternative rank-interleaving
    warns about.  ``weights[i]`` is the fraction of source ``i`` kept
    (>1.0 oversamples by whole copies + a fractional remainder, the
    usual epoch-mixing convention for high-quality corpora).

    Fully narrow: the sample filters at scan speed, the union is
    metadata-only, and no ordering, window, or shuffle exists anywhere
    in the plan.  ``with_source=True`` tags provenance.

    Two sampling methods, both seeded:

    * ``"rng"`` (default) — Spark's native ``df.sample``: cheapest
      (one RNG draw per row), but the draw sequence is *per
      partition*, so the selected subset changes if the input's
      partitioning/split layout changes (a recompute after an
      executor loss, a different file count, AQE coalescing).
    * ``"hash"`` — content-deterministic: keep rows where
      ``md5(key ":" seed ":" source)`` maps below the rate.  The
      subset depends only on row KEYS — stable across partitioning,
      retries, engines (and therefore SQL-oracle-checkable), at the
      cost of one md5 per row.  Requires ``key_field`` (a stable
      unique id column present in every source); rows with equal keys
      sample identically.
    """
    if len(dfs) != len(weights):
        raise ValueError("need one weight per source")
    if not dfs:
        raise ValueError("need at least one source")
    if method not in ("rng", "hash"):
        raise ValueError(f"unknown method {method!r}")
    if method == "hash" and not key_field:
        raise ValueError("method='hash' requires key_field")
    parts = []
    for i, (df, w) in enumerate(zip(dfs, weights)):
        if w < 0:
            raise ValueError(f"negative weight {w} for source {i}")
        if with_source:
            df = df.withColumn(source_column, F.lit(i))
        whole, frac = int(w), w - int(w)
        for r in range(whole):
            parts.append(df)
        if frac > 0:
            if method == "hash":
                # uniform in [0, 2^32) from the first 8 md5 hex chars
                # of "key:seed:source" — engine-portable (any SQL
                # dialect with md5 replays the exact subset)
                u = F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col(key_field).cast("string"),
                                F.lit(f"{seed}:{i}"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                parts.append(df.filter(u < int(frac * 2**32)))
            else:
                # distinct seed per (source, repeat): fractional
                # remainder draws a different subset than any whole copy
                parts.append(
                    df.sample(fraction=frac, seed=seed + 997 * i)
                )
    if not parts:
        raise ValueError("all weights are zero")
    return reduce(lambda a, b: a.unionByName(b), parts)


class DatasetLoaderMapper(SparkMapper):
    """Rows describe datasets to load (format + path); loads each and
    combines (reference HuggingFaceDatasetLoaderMapper,
    loaders.py:37-136: ``load_dataset(**row)`` then concatenate or
    interleave, with optional column pruning)."""

    def __init__(
        self,
        combine_strategy: str = "interleave",
        fields_to_keep: Optional[Sequence[str]] = None,
        format_field: str = "format",
        path_field: str = "path",
        order_by: Sequence[str] = (),
    ) -> None:
        if combine_strategy not in ("concatenate", "interleave"):
            raise ValueError(
                f"Invalid combine_strategy {combine_strategy}"
            )
        if combine_strategy == "interleave" and not order_by:
            raise ValueError("interleave requires order_by")
        self.combine_strategy = combine_strategy
        self.fields_to_keep = list(fields_to_keep) if fields_to_keep else None
        self.format_field = format_field
        self.path_field = path_field
        self.order_by = list(order_by)
        super().__init__(input_fields=[format_field, path_field])

    def _load_one(self, spark: SparkSession, fmt: str, path: str) -> DataFrame:
        if fmt == "parquet":
            df = spark.read.parquet(path)
        elif fmt == "csv":
            df = spark.read.csv(path, header=True)
        elif fmt in ("json", "jsonl"):
            df = spark.read.json(path)
        else:
            raise ValueError(f"Unsupported dataset format {fmt}")
        if self.fields_to_keep:
            df = df.select(*self.fields_to_keep)
        return df

    def apply(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        specs = df.select(self.format_field, self.path_field).collect()
        dfs = [
            self._load_one(spark, r[self.format_field], r[self.path_field])
            for r in specs
        ]
        if self.combine_strategy == "concatenate":
            return concatenate_datasets(dfs)
        return interleave_datasets(dfs, self.order_by)


def quota_sample(
    df: DataFrame,
    group_by: Sequence[str],
    max_per_group: int,
    key_field: str,
    seed: int = 13,
) -> DataFrame:
    """Per-group quota capping: keep at most ``max_per_group`` rows of
    every ``group_by`` group — the "at most N documents per domain /
    source / license bucket" corpus-composition step.

    Deterministic and partitioning-independent: rows rank within their
    group by ``(md5(key ":" seed), key)`` — a seeded shuffle order that
    depends only on row keys, so the kept subset survives retries,
    repartitioning, and engine changes (and is SQL-oracle-checkable,
    same convention as ``sample_mix(method='hash')``).

    Scale: ONE exchange on ``group_by``.  The ``row_number() <= N``
    filter compiles to a WindowGroupLimit (Spark >= 3.5): each map
    task pre-prunes its partition to the local top-N per group before
    the shuffle-side sort, so a giant group costs partial top-Ns, not
    a full single-task group sort.
    """
    if max_per_group < 1:
        raise ValueError("max_per_group must be >= 1")
    if not group_by:
        raise ValueError("group_by is required")
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash60

    u = portable_hash60(
        F.concat_ws(":", F.col(key_field).cast("string"), F.lit(str(seed)))
    )
    w = Window.partitionBy(*group_by).orderBy(
        u.asc(), F.col(key_field).asc()
    )
    return (
        df.withColumn("__qrank__", F.row_number().over(w))
        .filter(F.col("__qrank__") <= max_per_group)
        .drop("__qrank__")
    )


def hash_split(
    df: DataFrame,
    fractions: "dict[str, float]",
    key_field: str,
    seed: int = 13,
    split_column: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: tag every row with a
    split name by where ``md5(key ":" seed)`` lands in ``[0, 1)``
    partitioned according to ``fractions`` (must sum to 1.0 within
    1e-9).

    The assignment is a pure function of the row key — stable across
    partitioning, retries, appends (a new row never moves an old row's
    split), and engines (SQL-replayable, same convention as
    ``sample_mix(method='hash')``).  To prevent near-duplicate leakage
    across splits, key on the GROUP that duplicates share rather than
    the document id (``key_field="source"`` / a domain column / a
    dedup ``cluster_id`` from :func:`~...functions.dedup.fuzzy_dedup`)
    — every member of the group then lands in the same split.  Fully narrow: one md5 + range
    comparison per row, no shuffle; downstream ``.where(split ==
    'train')`` prunes at scan speed after a partitioned write on the
    split column.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    if any(v < 0 for v in fractions.values()):
        raise ValueError("fractions must be non-negative")
    from ..functions.hashing import portable_hash60

    u = portable_hash60(
        F.concat_ws(":", F.col(key_field).cast("string"), F.lit(str(seed)))
    )
    space = float(1 << 60)
    expr = None
    acc = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        acc += frac
        cond = u < int(acc * space)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_column, expr)


def select_under_token_budget(
    df: DataFrame,
    token_budget: int,
    tokens_field: str,
    score_field: str,
    key_field: str,
    keep_field: str = "in_budget",
    drop: bool = False,
) -> DataFrame:
    """Greedy fixed-budget corpus selection: take documents in
    descending ``score_field`` order until their cumulative
    ``tokens_field`` reaches ``token_budget`` — the "fit the best N
    billion tokens" step after scoring/dedup (the standard greedy
    knapsack relaxation: optimal when any single document is small
    against the budget).

    A document is selected iff the EXCLUSIVE prefix sum of tokens
    before it (in ``(score desc, key)`` order — the key breaks score
    ties deterministically, so the subset is a pure function of the
    data) is strictly under the budget; the boundary document
    therefore lands partially over budget, matching the greedy
    convention.  Tagged as ``keep_field`` 1/0, or filtered with
    ``drop=True``.

    Scale: the prefix sum runs on a SLIM ``(key, score, tokens)``
    projection — ~24 bytes/row — and only the resulting 0/1 keep flag
    is joined back onto the full-width corpus by ``key_field`` (the
    same discipline as ``PackSequencesMapper``).  The document payload
    never rides the range sort or the prefix-sum checkpoint: at 100 TB
    the sorted/materialized working set is GB-sized regardless of how
    wide the corpus rows are.  :func:`~smashed_spark.functions.packing.
    with_prefix_sum` itself is a range-partitioned sort plus a KB-sized
    driver merge of per-partition totals; no global single-task sort,
    no collect of document data.
    """
    if token_budget < 0:
        raise ValueError("token_budget must be >= 0")
    flags = _budget_flags(
        df, token_budget, tokens_field, score_field, key_field,
        keep_field,
    )
    flags = flags.withColumn(
        keep_field,
        unique_key_guard(
            F.col(keep_field), key_field, "select_under_token_budget",
            f"join key {key_field!r}",
        ),
    )
    out = df.join(flags, key_field).select(*df.columns, keep_field)
    if drop:
        out = out.filter(F.col(keep_field) == 1).drop(keep_field)
    return out


def _budget_flags(
    df: DataFrame,
    token_budget: int,
    tokens_field: str,
    score_field: str,
    key_field: str,
    keep_field: str,
) -> DataFrame:
    """The greedy-budget keep flags on the SLIM ``(key, score,
    tokens)`` projection — shared by the global and the per-source
    selectors.  with_prefix_sum requires a total key: (neg score, key)
    is total when key is unique, which dedup upstream guarantees — and
    which :func:`~smashed_spark.core.order.unique_key_guard` ENFORCES
    on the returned flags before any join-back (with_prefix_sum's
    totality check is on (negscore, key), which duplicate keys with
    DISTINCT scores pass; the count window rides the hash partitioning
    the join-back needs, so the slim side pays no extra exchange)."""
    from ..functions.packing import with_prefix_sum

    # dict.fromkeys dedupes while preserving order: score_field may BE
    # tokens_field (budget by the scoring quantity itself)
    slim = df.select(
        *dict.fromkeys([key_field, score_field, tokens_field])
    ).withColumn("__negscore__", -F.col(score_field))
    summed = with_prefix_sum(
        slim, tokens_field, ["__negscore__", key_field]
    )
    return summed.select(
        key_field,
        (F.col("__prefix__") < F.lit(token_budget))
        .cast("int")
        .alias(keep_field),
    )


def select_under_token_budgets(
    df: DataFrame,
    budgets: "dict[str, int]",
    source_field: str,
    tokens_field: str,
    score_field: str,
    key_field: str,
    keep_field: str = "in_budget",
    drop: bool = False,
) -> DataFrame:
    """Per-source greedy token budgets — the "data recipe" step: fit
    the best ``budgets[source]`` tokens of EACH source independently
    (e.g. 60 B web, 30 B code, 10 B books), rather than one global
    budget that lets a high-scoring source crowd the others out.
    Within each source the selection is exactly
    :func:`select_under_token_budget`'s greedy convention (descending
    score, key tiebreak, exclusive-prefix-under-budget with the
    boundary doc admitted).  Rows whose source has no budget entry get
    ``keep_field`` 0.  Keys need only be unique WITHIN a source: the
    flag join-back keys on ``(key, source)``, so a key reused across
    sources gets each source's own verdict (and can never inherit a
    budgeted source's flag).

    Scale: ONE scan of the corpus regardless of how many sources the
    recipe has — the slim ``(key, source, score, tokens)`` projection
    (~40 bytes/row) is persisted once and the per-source prefix sums
    loop over cached slices (r8 scanned the corpus once PER source;
    column-pruned and predicate-pushed, but still S scans of a 100 TB
    table for an S-source recipe).  Each source's prefix sum is
    independently range-partitioned across the cluster (a single
    window partitioned by source would sort each source's entirety in
    ONE task; recipes have few sources, so a driver loop of
    range-partitioned sorts is the scalable shape) — then one union of
    the KB-sized flag sets and ONE join-back by (key, source), guarded
    against duplicate keys in-plan like the global selector.  The
    cache is released before returning: every per-source prefix sum
    roots at its own micro materialization
    (:func:`~smashed_spark.functions.packing.with_prefix_sum`
    checkpoints its sorted input), so nothing downstream re-reads the
    cached projection.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"negative budget {b} for source {s!r}")
    slim_all = df.select(
        *dict.fromkeys(
            [key_field, source_field, score_field, tokens_field]
        )
    )
    # MEMORY_AND_DISK (persist default): the slim frame is ~40 B/doc,
    # and a spill is still far cheaper than re-scanning the corpus
    cached = len(budgets) > 1
    if cached:
        slim_all = slim_all.persist()
    try:
        per_source = []
        for s, b in sorted(budgets.items()):
            part = slim_all.filter(F.col(source_field) == F.lit(s))
            per_source.append(
                _budget_flags(
                    part, b, tokens_field, score_field, key_field,
                    keep_field,
                ).withColumn(source_field, F.lit(s))
            )
    finally:
        if cached:
            # safe here, not just at exit: _budget_flags is eager at
            # its core (with_prefix_sum checkpoints the sorted slice
            # and collects per-partition totals), so the flag frames
            # no longer reference the cached projection
            slim_all.unpersist(blocking=False)
    flags = per_source[0]
    for more in per_source[1:]:
        flags = flags.unionByName(more)
    # the guard runs on the UNION over the JOIN keys (key, source): a
    # key duplicated within a source fans the join-back out and raises;
    # the same key in another source is a different join key and fine
    flags = flags.withColumn(
        keep_field,
        unique_key_guard(
            F.col(keep_field), [key_field, source_field],
            "select_under_token_budgets",
            f"join key {[key_field, source_field]!r}",
        ),
    )
    out = (
        df.join(flags, [key_field, source_field], "left")
        .withColumn(keep_field, F.coalesce(F.col(keep_field), F.lit(0)))
        .select(*df.columns, keep_field)
    )
    if drop:
        out = out.filter(F.col(keep_field) == 1).drop(keep_field)
    return out


def temperature_weights(
    sizes: Sequence[float],
    alpha: float,
    target_tokens: Optional[float] = None,
    max_epochs: Optional[float] = None,
) -> "list[float]":
    """Temperature-based mixing rates for :func:`sample_mix` — the
    standard multilingual/multi-source recipe (exponentiated
    smoothing, as in multilingual BERT / XLM / mT5 sampling): source
    ``i`` with ``sizes[i]`` tokens is sampled toward composition
    ``q_i ∝ (sizes[i] / Σ sizes)^alpha``.  ``alpha=1`` keeps natural
    proportions (every rate equal), ``alpha=0`` equalizes the sources,
    intermediate values upsample the tail without letting it dominate.

    Returns per-source KEEP RATES ``w_i = q_i * T / sizes[i]`` for
    ``sample_mix`` (rates above 1.0 oversample by whole epochs + a
    fractional remainder — sample_mix's convention).  ``T`` is
    ``target_tokens`` when given; otherwise the largest total such
    that no source exceeds rate 1.0 (no oversampling — the biggest
    corpus achievable at that composition).  ``max_epochs`` caps any
    rate (the practical knob bounding tiny-source repetition); capped
    sources fall short of their target share, which is the documented
    trade-off rather than silent epochs blowup.

    Driver-side arithmetic over ``len(sizes)`` floats — compose with
    ``sample_mix(dfs, temperature_weights(sizes, alpha), ...)``.
    """
    if not sizes:
        raise ValueError("sizes must be non-empty")
    if any(s <= 0 for s in sizes):
        raise ValueError("every source size must be > 0")
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    if max_epochs is not None and max_epochs <= 0:
        raise ValueError("max_epochs must be > 0")
    total = float(sum(sizes))
    q = [(s / total) ** alpha for s in sizes]
    qsum = sum(q)
    q = [x / qsum for x in q]
    if target_tokens is None:
        # max T with every rate <= 1: T = min_i sizes[i] / q_i
        target = min(s / x for s, x in zip(sizes, q))
    else:
        if target_tokens < 0:
            raise ValueError("target_tokens must be >= 0")
        target = float(target_tokens)
    rates = [x * target / s for s, x in zip(sizes, q)]
    if max_epochs is not None:
        rates = [min(r, max_epochs) for r in rates]
    return rates
