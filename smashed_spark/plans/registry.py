"""Query registry powering ``__spark_entry__.queries()`` /
``oracle_sql()`` and ``bench.py``.

Each registered query is a callable ``(spark, sf_dir) -> DataFrame``
built from smashed_spark mappers / functions, paired (when
SQL-expressible) with an ANSI-SQL oracle string DuckDB runs over the
same parquet tables.  Column names are aliased identically on both
sides (the driver hash-compares values after sorting columns by name).
"""

from __future__ import annotations

from typing import Callable, Dict, Optional, Union

from pyspark.sql import DataFrame, SparkSession

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# value is either the oracle SQL itself or a zero-arg callable that
# builds it lazily (for oracles that embed data-dependent literals,
# e.g. IVF centroids fit on the gate corpus); resolve via oracles()
ORACLES: Dict[str, Union[str, Callable[[], str]]] = {}

from ..core.ship import ensure_shipped  # noqa: E402  (re-export)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def jsonify_arrays(df: DataFrame) -> DataFrame:
    """Scalar-only gate surface: the driver canonicalizes results with
    pandas (``sort_values`` + hash), which cannot hash list cells.  Wrap
    every non-atomic column as canonical JSON text — Spark ``to_json``
    and DuckDB ``to_json`` emit byte-identical text for the types the
    gate queries use (ints, strings, nesting, empties, null elements,
    null columns; verified empirically), so oracles mirror this with
    ``to_json(...)`` and hashes still compare value-for-value.

    Array-native result shapes stay available to library users — this
    wrapper is applied only at the query-registry edge, never inside
    the mappers themselves.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType

    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (ArrayType, MapType, StructType)):
            out = out.withColumn(f.name, F.to_json(F.col(f.name)))
    return out


def oracles() -> Dict[str, str]:
    """ORACLES with lazy (callable) entries resolved to SQL strings."""
    return {n: (o() if callable(o) else o) for n, o in ORACLES.items()}


def query(name: str, oracle: Optional[Union[str, Callable[[], str]]] = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_shipped(spark)
            return jsonify_arrays(fn(spark, sf_dir))

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _bind_gate_dir(env_var: str, stem: str) -> str:
    """Staging dir a gate writes and its oracle string reads.

    The driver materializes every oracle string before any gate runs,
    so the path must be known ahead of the write: pid-keyed (not
    mkdtemp'd) so concurrent drive processes never collide, and bound
    ONCE at import by the caller, so a worker forked after import
    copies the same constant and the writer and the oracle cannot
    disagree.  A spawn-started worker re-imports under a new pid and
    would bind a different path — ``env_var`` pins one shared location
    for that configuration (and for multi-user hosts).
    """
    import os
    import tempfile

    override = os.environ.get(env_var)
    if override:
        return override
    return os.path.join(tempfile.gettempdir(), f"{stem}_{os.getpid()}")


def _claim_gate_dir(path: str, env_var: str) -> None:
    """Refuse to write through a path another user pre-created.

    The pid-keyed name is predictable, so on a multi-user host someone
    could pre-create or symlink it and have the gate's overwrite follow
    the link.  Claim the directory first: create it 0o700 if absent,
    and if it already exists require that it is a real directory (not a
    symlink) owned by us — otherwise fail loudly instead of rewriting
    foreign files.
    """
    import os

    if os.path.islink(path):
        raise RuntimeError(
            f"gate staging dir {path!r} is a symlink — refusing "
            "to write through it (pre-created by another process?). "
            f"Set {env_var} to a private location."
        )
    try:
        os.makedirs(path, mode=0o700)
    except FileExistsError:
        st = os.stat(path, follow_symlinks=False)
        if hasattr(os, "geteuid") and st.st_uid != os.geteuid():
            raise RuntimeError(
                f"gate staging dir {path!r} exists and is owned "
                f"by uid {st.st_uid}, not us — refusing to overwrite. "
                f"Set {env_var} to a private location."
            )


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table.

    Timestamp columns are normalized to plain ``TIMESTAMP`` (LTZ)
    whatever the driver wrote: nano-precision INT64 (readable only as
    raw longs under ``spark.sql.legacy.parquet.nanosAsLong``) or
    micro-precision without timezone annotation (which Spark reads as
    ``TIMESTAMP_NTZ`` — rejected by ``withWatermark``/``unix_micros``).
    The session zone is pinned to UTC, so the NTZ->LTZ cast preserves
    the wall-clock value and query semantics match DuckDB's (zone-less)
    TIMESTAMP view of the same file.
    """
    # the driver may hand us a session without these (both are
    # runtime-settable SQLConfs): nano-precision INT64 timestamps are
    # unreadable without nanosAsLong, and hashing timestamps needs a
    # fixed zone to match the (zone-less) DuckDB oracle
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    ts_cols = {
        "events": ["ts"],
        "orders": ["o_orderdate"],
        "lineitem": ["l_shipdate"],
    }.get(table, [])
    dtypes = dict(df.dtypes)
    from pyspark.sql import functions as F

    for c in ts_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
