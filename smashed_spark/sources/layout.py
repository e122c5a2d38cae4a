"""Physical data layout for 100 TB parquet datasets.

Beyond-reference surface (the reference — ``src/smashed/mappers/*`` —
never touches storage layout): at 100 TB the dominant cost of most
queries is the SCAN, and the scan's cost is decided *at write time* by
three layout levers this module owns:

* **directory-level pruning** — Iceberg-style partition transforms
  (:func:`days`, :func:`hours`, :func:`bucket_by_md5`) materialized as
  partition columns, so equality/range predicates skip whole
  directories before a single footer is opened;
* **file/row-group-level skipping** — :func:`optimize_layout` writes
  the data Z-ordered (Morton-interleaved) on up to four cluster
  columns, so every file's parquet min/max envelope is narrow on ALL
  of them and a range predicate on any cluster column skips most row
  groups.  The Z-key is pure Catalyst bit algebra (no UDF, no extra
  exchange beyond the one ``repartitionByRange`` the clustered write
  inherently needs), and the integer tier is *exact* decimal
  arithmetic, bit-for-bit replayable in DuckDB via :func:`zorder_sql`;
* **file sizing** — :func:`compact_dataset` rewrites a small-files
  pile (the natural output of incremental ingestion) into
  target-sized files with ZERO exchanges: Spark's file-source scan
  already bin-packs splits up to ``spark.sql.files.maxPartitionBytes``,
  so setting that conf to the target size makes the *scan* do the
  bin-packing and the write is narrow.  The in-place replacement is
  the staged swap every on-disk store shares (sources/batch_state.py).

Honest measurement, not vibes: :func:`scan_stats` reads parquet
footers *distributed* (the file list is a DataFrame; ``mapInPandas``
opens each footer with pyarrow — at 100 TB the footer listing alone is
millions of files, so it cannot be a driver loop) and
:func:`skip_fraction` turns the row-group min/max envelopes into the
fraction of rows a given range predicate is entitled to skip — the
number a layout decision should be judged by.

Scale notes
-----------
* The Z-key fits a signed int64: ``len(cluster_by) * bits <= 62`` is
  enforced.  ``bits=16`` on two columns (the default) gives 65,536
  rank cells per dimension — far finer than any realistic file count.
* Rank bounds come from ONE tiny min/max aggregate
  (:func:`fit_zorder_bounds`, KB-sized result) or are caller-provided
  (e.g. from a previous snapshot, keeping Z-keys append-stable).
* Z-ordering degrades gracefully under skew (linear rank scaling maps
  dense regions to few cells).  For heavy skew, pre-transform the
  column (log/bucket) — the bounds dict is per-column, so mixed-tier
  clustering works.
* ``compact_dataset`` is LOCAL-filesystem-only by design: object
  stores have no atomic directory rename, so the safe cloud recipe is
  write-new-prefix + flip a table-format pointer (Iceberg/Delta
  commit), not an in-place swap — the refusal message says so.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager
from typing import Dict, Mapping, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .batch_state import recover_swap, swap_in

Bound = Union[int, float]

ZORDER_FIELD = "zkey"
COMPACT_STAGING_SUFFIX = "__compact_staging__"


# ---------------------------------------------------------------------------
# Z-order (Morton) keys
# ---------------------------------------------------------------------------


def fit_zorder_bounds(
    df: DataFrame, cols: Sequence[str]
) -> Dict[str, Tuple[Bound, Bound]]:
    """Exact per-column (min, max) in ONE aggregate job (KB-sized
    result).  Integral columns yield ``int`` bounds (selecting the
    exact-arithmetic rank tier); everything else yields ``float``
    bounds (the double tier).  Exact min/max — not a sample — so the
    same bounds literal is recomputable by any engine, which is what
    makes :func:`zorder_sql` a bit-for-bit oracle."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"__lo_{c}"))
        aggs.append(F.max(c).alias(f"__hi_{c}"))
    row = df.agg(*aggs).first()
    bounds: Dict[str, Tuple[Bound, Bound]] = {}
    for c in cols:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        if lo is None:
            raise ValueError(
                f"fit_zorder_bounds: column {c!r} is entirely NULL; "
                "a Z-order dimension needs at least one value"
            )
        if isinstance(
            df.schema[c].dataType,
            (ByteType, ShortType, IntegerType, LongType),
        ):
            bounds[c] = (int(lo), int(hi))
        else:
            lo_f, hi_f = float(lo), float(hi)
            if math.isnan(lo_f) or math.isnan(hi_f) or math.isinf(lo_f) \
                    or math.isinf(hi_f):
                raise ValueError(
                    f"fit_zorder_bounds: column {c!r} min/max is "
                    f"NaN/inf ({lo_f}, {hi_f}); filter non-finite "
                    "values before clustering on this column"
                )
            bounds[c] = (lo_f, hi_f)
    return bounds


def _is_exact(lo: Bound, hi: Bound) -> bool:
    # bool is an int subclass but makes no sense as a Z dimension
    return (
        isinstance(lo, int)
        and isinstance(hi, int)
        and not isinstance(lo, bool)
        and not isinstance(hi, bool)
    )


def _validate_zorder(
    cols: Sequence[str],
    bounds: Mapping[str, Tuple[Bound, Bound]],
    bits: int,
) -> None:
    if not cols:
        raise ValueError("zorder: need at least one cluster column")
    if bits < 1:
        raise ValueError("zorder: bits must be >= 1")
    if len(cols) * bits > 62:
        raise ValueError(
            f"zorder: {len(cols)} columns x {bits} bits = "
            f"{len(cols) * bits} key bits; the key must stay a "
            "non-negative int64 (len(cols) * bits <= 62).  Lower "
            "bits= or cluster on fewer columns."
        )
    for c in cols:
        if c not in bounds:
            raise ValueError(f"zorder: no bounds for column {c!r}")
        lo, hi = bounds[c]
        if _is_exact(lo, lo) != _is_exact(hi, hi):
            raise ValueError(
                f"zorder: mixed int/float bounds for {c!r} ({lo!r}, "
                f"{hi!r}); both ends must share a type — the bound "
                "type selects the exact-vs-double rank tier, and a "
                "mixed pair (e.g. one end floatified by a JSON "
                "round-trip of a persisted bounds report) would "
                "silently flip the tier and break append-stability"
            )
        if hi < lo:
            raise ValueError(
                f"zorder: bounds for {c!r} are reversed ({lo!r} > {hi!r})"
            )


def _rank_expr(
    col_sql: str, lo: Bound, hi: Bound, bits: int, dialect: str
) -> str:
    """Rank-in-[0, 2^bits - 1] expression for one dimension.

    Exact tier (int bounds): pure integer arithmetic —
    ``(x - lo) * M div (hi - lo)`` in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB), so the two engines agree bit-for-bit with no float
    rounding in sight.  Double tier (float bounds): IEEE-754 double
    math written with the SAME operation order in both dialects
    (subtract, divide, multiply, floor), which Python/numpy replicate.
    Both tiers clamp into [0, M] so caller-provided bounds narrower
    than the data cannot push a rank out of its bit budget."""
    m = (1 << bits) - 1
    if hi == lo:
        # still NULL-propagating: a constant dimension must not turn a
        # NULL row non-NULL
        return (
            f"CASE WHEN {col_sql} IS NULL THEN CAST(NULL AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    if _is_exact(lo, hi):
        rng = int(hi) - int(lo)
        if dialect == "spark":
            raw = (
                f"(CAST({col_sql} AS DECIMAL(38,0)) - "
                f"CAST({int(lo)} AS DECIMAL(38,0))) * {m} "
                f"DIV CAST({rng} AS DECIMAL(38,0))"
            )
        else:
            raw = (
                f"CAST((CAST({col_sql} AS HUGEINT) - "
                f"CAST({int(lo)} AS HUGEINT)) * {m} "
                f"// CAST({rng} AS HUGEINT) AS BIGINT)"
            )
    else:
        lo_f, hi_f = float(lo), float(hi)
        rng_f = hi_f - lo_f
        raw = (
            f"CAST(FLOOR((CAST({col_sql} AS DOUBLE) - "
            f"CAST({lo_f!r} AS DOUBLE)) / CAST({rng_f!r} AS DOUBLE) "
            f"* {m}) AS BIGINT)"
        )
    # LEAST/GREATEST *skip* NULL operands in both engines (Postgres
    # semantics), which would silently map NULL to rank 0 — make the
    # documented NULL-propagation explicit instead
    return (
        f"CASE WHEN {col_sql} IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE LEAST(GREATEST({raw}, 0), {m}) END"
    )


def _interleave_expr(rank_sqls: Sequence[str], bits: int, dialect: str) -> str:
    """Morton interleave: bit ``i`` of rank ``j`` lands at key
    position ``i * n + j`` (dimension 0 owns the least-significant
    slot of each bit group).  Unrolled ``bits * n`` OR-terms — pure
    bit algebra, whole-stage-codegen friendly; Catalyst's
    subexpression elimination shares the repeated rank computations."""
    n = len(rank_sqls)
    terms = []
    for i in range(bits):
        for j, r in enumerate(rank_sqls):
            pos = i * n + j
            if dialect == "spark":
                t = f"SHIFTLEFT(SHIFTRIGHT({r}, {i}) & 1, {pos})"
            else:
                t = f"(((({r}) >> {i}) & 1) << {pos})"
            terms.append(t)
    return "(" + " | ".join(terms) + ")"


def zorder_column(
    df: DataFrame,
    cols: Sequence[str],
    bounds: Mapping[str, Tuple[Bound, Bound]],
    bits: int = 16,
) -> Column:
    """The Z-order key as a pure-Catalyst :class:`Column` (bigint).

    NULL in any cluster dimension makes the key NULL (NULLs then sort
    together at one end — they carry no range information to cluster
    on).  ``bounds`` is explicit (from :func:`fit_zorder_bounds` or a
    previous snapshot) so the key is a pure function of (value,
    bounds, bits) — append-stable and engine-portable."""
    _validate_zorder(cols, bounds, bits)
    ranks = [
        _rank_expr(f"`{c}`", bounds[c][0], bounds[c][1], bits, "spark")
        for c in cols
    ]
    return F.expr(_interleave_expr(ranks, bits, "spark")).cast("bigint")


def zorder_sql(
    cols: Sequence[str],
    bounds: Mapping[str, Tuple[Bound, Bound]],
    bits: int = 16,
) -> str:
    """The SAME Z-key as a DuckDB SQL expression over the raw column
    names — the oracle/replay side of :func:`zorder_column`.  Exact
    tier matches bit-for-bit (integer arithmetic both sides); double
    tier matches because both engines evaluate the identical IEEE-754
    operation sequence."""
    _validate_zorder(cols, bounds, bits)
    ranks = [
        _rank_expr(f'"{c}"', bounds[c][0], bounds[c][1], bits, "duckdb")
        for c in cols
    ]
    return _interleave_expr(ranks, bits, "duckdb")


# ---------------------------------------------------------------------------
# Partition transforms (directory-level pruning)
# ---------------------------------------------------------------------------


def days(col: Union[str, Column]) -> Column:
    """Iceberg-style day transform: a ``yyyy-MM-dd`` string partition
    column.  Directory pruning then serves any day-range predicate."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")


def hours(col: Union[str, Column]) -> Column:
    """Hour transform: ``yyyy-MM-dd-HH`` string partition column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd-HH")


def bucket_by_md5(col: Union[str, Column], n: int) -> Column:
    """Iceberg-style bucket transform with the repo's portable md5-60
    convention (functions/hashing.py): deterministic across engines
    and Spark versions — unlike ``F.hash`` (Murmur3, JVM-specific), a
    re-written snapshot buckets identically, and a DuckDB oracle can
    replay the assignment:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT % n``.
    """
    if n < 1:
        raise ValueError("bucket_by_md5: n must be >= 1")
    from ..functions.hashing import portable_hash60

    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(portable_hash60(c.cast("string")), F.lit(n))


# ---------------------------------------------------------------------------
# Clustered write
# ---------------------------------------------------------------------------


def optimize_layout(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    bits: int = 16,
    bounds: Optional[Mapping[str, Tuple[Bound, Bound]]] = None,
    target_rows_per_file: Optional[int] = None,
    num_files: Optional[int] = None,
    partition_transforms: Optional[Mapping[str, Column]] = None,
    keep_zorder_column: bool = False,
    zorder_field: str = ZORDER_FIELD,
    mode: str = "error",
    compression: str = "zstd",
) -> Dict[str, object]:
    """Write ``df`` as a Z-order-clustered parquet dataset.

    Plan shape: ONE ``repartitionByRange`` on (partition columns...,
    Z-key) — the only exchange, and one a clustered write inherently
    needs — then ``sortWithinPartitions`` on the same keys (narrow).
    Each output task therefore owns a contiguous Z-range, so every
    file's min/max envelope is tight on every cluster column and
    parquet row-group skipping works for predicates on ANY of them.

    Sizing: ``num_files`` explicit, else ONE count job when
    ``target_rows_per_file`` is given (also set as ``maxRecordsPerFile``
    belt-and-braces), else the session's default parallelism.  That
    count job is a full extra pass over the INPUT plan — cheap for a
    bare parquet scan (footer-served) but a real second evaluation
    when ``df`` is an unmaterialized pipeline; at 100 TB prefer
    ``num_files=`` pinned from a row count the pipeline already knows
    (its own ingest stats, a rollup, or the source manifest).

    Returns a report dict — notably the fitted ``bounds``, which a
    caller should persist and pass back when appending, keeping
    Z-keys append-stable across snapshots.
    """
    cluster_by = list(cluster_by)
    if zorder_field in df.columns:
        raise ValueError(
            f"optimize_layout: input already has a {zorder_field!r} "
            "column (a previous keep_zorder_column=True write?) — "
            "drop it or pass a different zorder_field; silently "
            "overwriting a data column is how columns get lost"
        )
    if bounds is None:
        bounds = fit_zorder_bounds(df, cluster_by)
    out = df.withColumn(
        zorder_field, zorder_column(df, cluster_by, bounds, bits)
    )

    part_names = []
    if partition_transforms:
        for name, col in partition_transforms.items():
            if name in df.columns:
                raise ValueError(
                    f"optimize_layout: partition transform {name!r} "
                    "collides with an input column; pick a fresh name"
                )
            out = out.withColumn(name, col)
            part_names.append(name)

    if num_files is None:
        if target_rows_per_file is not None:
            n_rows = df.count()
            num_files = max(1, math.ceil(n_rows / target_rows_per_file))
        else:
            num_files = df.sparkSession.sparkContext.defaultParallelism
    keys = part_names + [zorder_field]
    out = out.repartitionByRange(num_files, *keys).sortWithinPartitions(
        *keys
    )
    if not keep_zorder_column:
        # projecting the key away AFTER sortWithinPartitions keeps the
        # physical order (a project never reorders rows)
        out = out.drop(zorder_field)

    writer = out.write.mode(mode).option("compression", compression)
    if target_rows_per_file is not None:
        writer = writer.option("maxRecordsPerFile", target_rows_per_file)
    if part_names:
        writer = writer.partitionBy(*part_names)
    writer.parquet(path)
    return {
        "path": path,
        "cluster_by": cluster_by,
        "bits": bits,
        "bounds": dict(bounds),
        "num_files": num_files,
        "partition_columns": part_names,
    }


# ---------------------------------------------------------------------------
# Footer audit: did the layout actually buy skipping?
# ---------------------------------------------------------------------------

_STATS_SCHEMA = (
    "file string, row_group int, num_rows bigint, "
    "compressed_bytes bigint, col string, null_count bigint, "
    "has_stats boolean, min_double double, max_double double, "
    "min_str string, max_str string"
)


def scan_stats(
    spark: SparkSession,
    path: str,
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-(file, row group, column) parquet footer statistics as a
    DataFrame — min/max envelope, row count, compressed bytes.

    Distributed by construction: the file list becomes a DataFrame and
    ``mapInPandas`` opens each footer with pyarrow on the executors
    (at 100 TB the listing is millions of files; a driver loop would
    be the classic collect() anti-pattern).  Only FOOTERS are read —
    cost is KB per file regardless of file size.  Numeric envelopes
    land in ``min_double``/``max_double``, string envelopes in
    ``min_str``/``max_str``; ``has_stats=false`` rows (writers may
    omit stats) are never counted as skippable."""
    files = spark.read.parquet(path).inputFiles()
    if not files:
        raise ValueError(f"scan_stats: no parquet files under {path!r}")
    want = list(columns) if columns else None
    n_slices = max(
        1, min(len(files), spark.sparkContext.defaultParallelism * 4)
    )
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file_path: string"
    ).repartition(n_slices)

    def _read_footers(batches):
        import pandas as pd
        import pyarrow.fs as pafs
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fp in pdf["file_path"]:
                fs, rel = pafs.FileSystem.from_uri(fp)
                with fs.open_input_file(rel) as fh:
                    md = pq.ParquetFile(fh).metadata
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for ci in range(rg.num_columns):
                        cc = rg.column(ci)
                        name = cc.path_in_schema
                        if want is not None and name not in want:
                            continue
                        st = cc.statistics
                        has = bool(st is not None and st.has_min_max)
                        mn = st.min if has else None
                        mx = st.max if has else None

                        def _as_num(v, direction):
                            # int64 stats above 2^53 round when cast
                            # to double; rounding could move a min UP
                            # or a max DOWN and manufacture a FALSE
                            # skip.  Widen one ulp outward instead —
                            # exact when representable, conservative
                            # when not (the no-false-skip contract)
                            import math as _m

                            if isinstance(v, bool) or not isinstance(
                                v, (int, float)
                            ):
                                return None
                            f = float(v)
                            if isinstance(v, int) and f != v:
                                if direction == "lo" and f > v:
                                    f = _m.nextafter(f, -_m.inf)
                                elif direction == "hi" and f < v:
                                    f = _m.nextafter(f, _m.inf)
                            return f

                        def _as_str(v):
                            if v is None:
                                return None
                            if isinstance(v, bytes):
                                return v.decode("utf-8", errors="replace")
                            return str(v)

                        rows.append(
                            {
                                "file": fp,
                                "row_group": g,
                                "num_rows": rg.num_rows,
                                "compressed_bytes": cc.total_compressed_size,
                                "col": name,
                                "null_count": (
                                    st.null_count
                                    if st is not None
                                    and st.null_count is not None
                                    else None
                                ),
                                "has_stats": has,
                                "min_double": _as_num(mn, "lo"),
                                "max_double": _as_num(mx, "hi"),
                                "min_str": _as_str(mn),
                                "max_str": _as_str(mx),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file",
                    "row_group",
                    "num_rows",
                    "compressed_bytes",
                    "col",
                    "null_count",
                    "has_stats",
                    "min_double",
                    "max_double",
                    "min_str",
                    "max_str",
                ],
            )

    return fdf.mapInPandas(_read_footers, schema=_STATS_SCHEMA)


def skip_fraction(
    stats: DataFrame,
    column: str,
    lower: Optional[Bound] = None,
    upper: Optional[Bound] = None,
    lower_str: Optional[str] = None,
    upper_str: Optional[str] = None,
) -> Dict[str, float]:
    """For the inclusive range predicate ``lower <= col <= upper``
    (numeric bounds, or ``lower_str``/``upper_str`` for string
    envelopes), the fraction of row groups / rows whose min/max
    envelope proves they contain NO matching row — i.e. what a
    stats-aware scan is entitled to skip.  Conservative by
    construction: missing stats are never skippable, so the result is
    a LOWER bound on real pruning (and can never claim a false skip).
    """
    if (lower is None and upper is None
            and lower_str is None and upper_str is None):
        raise ValueError("skip_fraction: give at least one bound")
    if (lower is not None or upper is not None) and (
        lower_str is not None or upper_str is not None
    ):
        raise ValueError(
            "skip_fraction: numeric and string bounds are exclusive"
        )
    s = stats.filter(F.col("col") == column)
    if lower_str is not None or upper_str is not None:
        mn, mx = F.col("min_str"), F.col("max_str")
        lo, hi = lower_str, upper_str
    else:
        mn, mx = F.col("min_double"), F.col("max_double")
        lo, hi = lower, upper
    skip = F.lit(False)
    if hi is not None:
        skip = skip | (mn > F.lit(hi))
    if lo is not None:
        skip = skip | (mx < F.lit(lo))
    skip = F.col("has_stats") & F.coalesce(skip, F.lit(False))
    row = s.agg(
        F.count(F.lit(1)).alias("row_groups"),
        F.sum(skip.cast("long")).alias("skipped_row_groups"),
        F.sum("num_rows").alias("rows"),
        F.sum(F.when(skip, F.col("num_rows")).otherwise(F.lit(0))).alias(
            "skipped_rows"
        ),
    ).first()
    if row is None or row["row_groups"] == 0:
        raise ValueError(
            f"skip_fraction: no footer stats for column {column!r}"
        )
    return {
        "row_groups": row["row_groups"],
        "skipped_row_groups": int(row["skipped_row_groups"] or 0),
        "rows": int(row["rows"] or 0),
        "skipped_rows": int(row["skipped_rows"] or 0),
        "row_group_skip_fraction": (
            (row["skipped_row_groups"] or 0) / row["row_groups"]
        ),
        "row_skip_fraction": (
            (int(row["skipped_rows"] or 0) / row["rows"])
            if row["rows"]
            else 0.0
        ),
    }


# ---------------------------------------------------------------------------
# Small-files compaction (staging-swap, crash-safe)
# ---------------------------------------------------------------------------


def _swap_staging_path(path: str, suffix: str) -> str:
    parent, name = os.path.split(path.rstrip("/"))
    # leading dot: invisible to a glob over the parent directory
    return os.path.join(parent, f".{name}.{suffix}")


def recover_compaction_swap(path: str) -> bool:
    """Finish a compaction swap that crashed mid-commit — safe at
    every pipeline entry (see
    :func:`~smashed_spark.sources.batch_state.recover_swap`)."""
    local = _local_path(path)
    return recover_swap(local, _staging_path(local))


def _staging_path(path: str) -> str:
    return _swap_staging_path(path, COMPACT_STAGING_SUFFIX)


def _local_path(path: str, caller: str = "compact_dataset") -> str:
    if "://" in path:
        scheme = path.split("://", 1)[0]
        if scheme != "file":
            raise ValueError(
                f"{caller}: {scheme}:// paths are not supported "
                "— object stores have no atomic directory rename, so "
                "an in-place swap cannot be crash-safe there.  Use the "
                "snapshot protocol instead (sources/snapshot.py): "
                "compact_snapshot / apply_deletions_snapshot write a "
                "NEW prefix, commit a versioned manifest, and flip the "
                "table pointer atomically; vacuum_snapshots deletes "
                "the old prefix after."
            )
        return path.split("://", 1)[1]
    return path


@contextmanager
def packed_scan_conf(spark: SparkSession, target_file_bytes: int):
    """Scoped confs that make a file-source SCAN bin-pack small files
    into ~``target_file_bytes`` splits, so a plain read→write compacts
    with ZERO exchanges (each task writes one target-sized file).
    Shared by :func:`compact_dataset` (in-place swap) and the
    snapshot-publish compaction (sources/snapshot.py, write-new-prefix).
    Every conf is restored on exit — to its previous value, or unset if
    it was unset (a leaked conf is the scale_probe lesson)."""
    conf_keys = {
        "spark.sql.files.maxPartitionBytes": str(int(target_file_bytes)),
        # each packed file is charged openCostInBytes on top of its
        # size, so the default (4 MB) would cap a bin at a handful of
        # tiny files; 4 KB still models the seek without starving the
        # pack
        "spark.sql.files.openCostInBytes": str(4 << 10),
        # Spark floors the split size at totalBytes/parallelism so a
        # small scan still uses every core — correct for queries,
        # wrong for a compaction whose whole point is the byte
        # target; pin the floor to 1 so maxSplitBytes == target
        "spark.sql.files.minPartitionNum": "1",
    }
    prev: Dict[str, Optional[str]] = {}
    for k, v in conf_keys.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _parquet_files_under(local: str):
    out = []
    for root, dirs, names in os.walk(local):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet"):
                out.append(os.path.join(root, n))
    return out


def compact_dataset(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    compression: str = "zstd",
    sort_within: Sequence[str] = (),
) -> Dict[str, object]:
    """Rewrite a small-files parquet pile into ~``target_file_bytes``
    files, in place, crash-safe.

    ZERO-exchange plan: instead of ``repartition(n)`` (a full shuffle
    of every byte), the target size is set as
    ``spark.sql.files.maxPartitionBytes`` for the rewrite, so the
    file-source SCAN bin-packs small files into target-sized splits
    and each task writes exactly one output file — read, (optional
    narrow sort), write.  The conf is restored afterward (to its
    previous value, or unset if it was unset — a leaked conf is the
    scale_probe lesson).

    Crash safety: the rewrite lands in a hidden staging sibling and
    replaces the original through the shared staged swap
    (:func:`~smashed_spark.sources.batch_state.swap_in`), which
    refuses a staging write without Spark's ``_SUCCESS`` marker.  The
    single crash window (between remove and rename) is repaired by
    :func:`recover_compaction_swap`, which also runs at entry here.

    Note for Z-ordered inputs: merging files widens their min/max
    envelopes (listing order is not Z order) — re-run
    :func:`optimize_layout` instead when clustering matters; this
    function is for unclustered ingest piles.
    """
    local = _local_path(path)
    recover_compaction_swap(local)
    if not os.path.isdir(local):
        raise ValueError(f"compact_dataset: {path!r} is not a directory")
    for d in os.listdir(local):
        if "=" in d and os.path.isdir(os.path.join(local, d)):
            raise ValueError(
                f"compact_dataset: {path!r} is hive-partitioned "
                f"(subdir {d!r}); compact each partition directory "
                "separately so directory pruning survives"
            )
    files_before = _parquet_files_under(local)
    if not files_before:
        raise ValueError(f"compact_dataset: no parquet files under {path!r}")
    total_bytes = sum(os.path.getsize(f) for f in files_before)

    def write(staging: str) -> None:
        with packed_scan_conf(spark, target_file_bytes):
            df = spark.read.parquet(local)
            if sort_within:
                df = df.sortWithinPartitions(*sort_within)
            df.write.mode("overwrite").option(
                "compression", compression
            ).parquet(staging)

    swap_in(local, _staging_path(local), write)
    files_after = _parquet_files_under(local)
    return {
        "path": path,
        "files_before": len(files_before),
        "files_after": len(files_after),
        "bytes": total_bytes,
        "target_file_bytes": int(target_file_bytes),
    }


# ---------------------------------------------------------------------------
# Provenance (lineage) reads
# ---------------------------------------------------------------------------


def read_with_provenance(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    file_field: str = "prov_file",
    row_field: str = "prov_row_index",
    include_path: bool = False,
    path_field: str = "prov_path",
) -> DataFrame:
    """File-source read carrying row-level lineage: the source file
    name and the row's index WITHIN that file (Spark's hidden
    ``_metadata`` struct — computed by the scan itself, zero cost, and
    stable for parquet).  (file, row_index) is a durable row identity
    for audits: corpus_diff against a re-read, "which shard produced
    this document", reproducing a single bad row.  Must be applied at
    READ time — ``_metadata`` exists only on a file-source scan, which
    is why this is a reader, not a mapper."""
    df = spark.read.format(fmt).load(path)
    cols = [
        F.col("*"),
        F.col("_metadata.file_name").alias(file_field),
        F.col("_metadata.row_index").alias(row_field),
    ]
    if include_path:
        cols.append(F.col("_metadata.file_path").alias(path_field))
    return df.select(*cols)
