"""Deterministic, md5-portable Bloom filter for membership flags —
the cheap approximate tier between "no index" and "exact anti-join
against the index".  The reference has no membership
surface (additive, SURVEY.md §2.10); Spark's own
``bloom_filter_agg`` / ``might_contain`` exist only as unregistered
internal expressions (runtime-filter machinery), so this is built
from public DataFrame algebra.

Where it pays at 100 TB: a membership flag against an index far too
large to join per row — a sketch of a 10^8-key index at 1% FPR is
128 MiB and rides the probe UDF's closure, so flagging a batch
costs one narrow pass and no exchange (sample_mix flags its
survivors against the history digest index this way).  The flag is
a MAYBE: false positives come at the documented rate, and false
negatives are IMPOSSIBLE for keys the sketch was actually fit on —
which is the one operational contract: the sketch must cover every
key of the index it stands for (fit it from the index, or OR
together per-batch sketches as batches commit; a STALE sketch
answers "new" for the keys it missed).  It is not a dedup
prefilter: the incremental dedup tiers decide by the exact join
alone, which on one node was faster than a Bloom-split batch in 7
of the 8 BENCH_SCALE ``bloom_backfill`` cells.

Determinism + portability: positions derive from ONE md5 per key via
Kirsch-Mitzenmacher double hashing — ``h1 = md5[0:8]``, ``h2 =
md5[8:16] | 1`` (forced odd), ``pos_i = (h1 + i*h2) % num_bits`` —
the repo's standard portable-hash convention, byte-identical in
DuckDB (``('0x' || substr(md5(k), 1, 8))::BIGINT``), so fits are
partition-invariant and the bit test is SQL-replayable (test-pinned
against a DuckDB replay).

Plan shape: the fit is ONE exchange on the 64-bit word index
(map-side ``bit_or`` partials) and collects at most ``num_bits/64``
rows; probing computes the position array JVM-side (whole-stage
codegen) and does a single vectorized numpy gather in ONE
Arrow-batched pandas UDF — the bitmap rides the UDF closure like the
injected centroids of the semantic family.  The sketch is a bounded
DRIVER artifact (<= 128 MiB hard cap = ~10^8 keys at 1% FPR); at
larger index cardinalities keep ``num_bits`` fixed and let the FPR
degrade — a saturating sketch gracefully loses selectivity, never
correctness.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BloomFilterSketch",
    "optimal_bloom_params",
    "fit_bloom",
    "with_bloom_flag",
    "load_bloom",
]

_MAX_BITS = 1 << 30  # 128 MiB of bitmap — a driver/broadcast artifact
_MAX_HASHES = 16


def optimal_bloom_params(n_items: int, fpp: float) -> tuple:
    """Textbook sizing: ``m = -n ln p / (ln 2)^2`` bits (rounded up
    to a word multiple, clamped to the 128 MiB cap) and ``k = m/n
    ln 2`` hashes.  Above the cap the returned k is re-derived for
    the CLAMPED m, so the sketch stays as selective as the cap
    allows."""
    if n_items < 1:
        raise ValueError(f"n_items must be >= 1, got {n_items}")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, min(_MAX_BITS, ((m + 63) // 64) * 64))
    k = max(1, min(_MAX_HASHES, round(m / n_items * math.log(2))))
    return m, int(k)


class BloomFilterSketch:
    """The fitted bitmap + its parameters.  ``words`` is a numpy
    uint64 array of length ``num_bits / 64``.  Mergeable via
    :meth:`merge` (bitwise OR — exactly the union sketch), so a
    running ingest pipeline ORs a per-batch fit into the index sketch
    as each batch commits."""

    def __init__(self, words, num_bits: int, num_hashes: int, salt: int):
        import numpy as np

        self.words = np.asarray(words, dtype=np.uint64)
        self.num_bits = int(num_bits)
        self.num_hashes = int(num_hashes)
        self.salt = int(salt)
        if self.num_bits % 64 != 0 or not 64 <= self.num_bits <= _MAX_BITS:
            raise ValueError(
                f"num_bits must be a multiple of 64 in [64, {_MAX_BITS}]"
            )
        if len(self.words) != self.num_bits // 64:
            raise ValueError(
                f"words length {len(self.words)} != num_bits/64 "
                f"{self.num_bits // 64}"
            )
        if not 1 <= self.num_hashes <= _MAX_HASHES:
            raise ValueError(f"num_hashes must be 1..{_MAX_HASHES}")

    @property
    def num_set_bits(self) -> int:
        import numpy as np

        # per-byte popcount via a 256-entry lookup table — O(bytes)
        # with no temporaries beyond the byte view (np.unpackbits
        # would materialize one BYTE per BIT: ~1 GiB transient for a
        # cap-sized sketch polled as a health metric)
        table = np.array(
            [bin(i).count("1") for i in range(256)], dtype=np.uint8
        )
        return int(table[self.words.view(np.uint8)].sum())

    @property
    def saturation(self) -> float:
        """Fraction of set bits; estimated FPR is saturation **
        num_hashes — monitor it like any index health metric."""
        return self.num_set_bits / self.num_bits

    def merge(self, other: "BloomFilterSketch") -> "BloomFilterSketch":
        """Union sketch (bitwise OR).  Parameters must match exactly —
        differing geometry/salt would silently break the no-false-
        negative contract."""
        if (
            self.num_bits != other.num_bits
            or self.num_hashes != other.num_hashes
            or self.salt != other.salt
        ):
            raise ValueError(
                "cannot merge Bloom sketches with different "
                f"(num_bits, num_hashes, salt): "
                f"({self.num_bits}, {self.num_hashes}, {self.salt}) vs "
                f"({other.num_bits}, {other.num_hashes}, {other.salt})"
            )
        return BloomFilterSketch(
            self.words | other.words,
            self.num_bits,
            self.num_hashes,
            self.salt,
        )

    def save(self, path: str) -> None:
        """Persist as ``meta.json`` + raw little-endian ``words.bin``
        under ``path`` (local or s3 via io_utils) — the sketch is a
        driver artifact like persisted centroids, not a distributed
        table."""
        from ..sources.io_utils import open_file_for_write

        with open_file_for_write(f"{path}/meta.json", "w") as f:
            f.write(
                json.dumps(
                    {
                        "num_bits": self.num_bits,
                        "num_hashes": self.num_hashes,
                        "salt": self.salt,
                    }
                )
            )
        with open_file_for_write(f"{path}/words.bin", "wb") as f:
            f.write(self.words.astype("<u8").tobytes())


def load_bloom(path: str) -> BloomFilterSketch:
    import numpy as np

    from ..sources.io_utils import open_file_for_read

    with open_file_for_read(f"{path}/meta.json", "r") as f:
        meta = json.loads(f.read())
    with open_file_for_read(f"{path}/words.bin", "rb") as f:
        words = np.frombuffer(f.read(), dtype="<u8")
    return BloomFilterSketch(
        words, meta["num_bits"], meta["num_hashes"], meta["salt"]
    )


def _position_cols(
    col: Column, num_bits: int, num_hashes: int, salt: int
) -> list:
    """Bit positions via the shared md5 Kirsch-Mitzenmacher helper
    (functions/hashing.py ``km_positions``, tag ``bloom``) — one
    implementation serves fit, probe, and the DuckDB replay, so they
    can never diverge."""
    from .hashing import km_positions

    return km_positions(col, num_hashes, num_bits, "bloom", salt)


def fit_bloom(
    df: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int = 4,
    salt: int = 0,
) -> BloomFilterSketch:
    """Fit the sketch over the non-NULL values of ``df[col]`` — ONE
    exchange on the word index (map-side ``bit_or`` partials fold
    each partition's positions before the shuffle), then a bounded
    collect of at most ``num_bits/64`` (word, bits) rows.  NULLs
    carry no membership (they are never "seen").  Deterministic and
    partition-invariant: OR is commutative and the positions are pure
    md5 arithmetic (test-pinned)."""
    import numpy as np

    # validate geometry driver-side so the error precedes any Spark job
    if num_bits % 64 != 0 or not 64 <= num_bits <= _MAX_BITS:
        raise ValueError(
            f"num_bits must be a multiple of 64 in [64, {_MAX_BITS}], "
            f"got {num_bits}"
        )
    if not 1 <= num_hashes <= _MAX_HASHES:
        raise ValueError(
            f"num_hashes must be 1..{_MAX_HASHES}, got {num_hashes}"
        )
    pos = _position_cols(F.col(col), num_bits, num_hashes, salt)
    rows = (
        df.where(F.col(col).isNotNull())
        .select(F.explode(F.array(*pos)).alias("p"))
        .groupBy(F.shiftright(F.col("p"), 6).alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, CAST(p % 64 AS INT))")
            ).alias("bits")
        )
        .collect()
    )
    words = np.zeros(num_bits // 64, dtype=np.uint64)
    for r in rows:
        words[int(r["word"])] = np.uint64(
            r["bits"] & 0xFFFFFFFFFFFFFFFF
        )
    return BloomFilterSketch(words, num_bits, num_hashes, salt)


def with_bloom_flag(
    df: DataFrame,
    col: str,
    sketch: BloomFilterSketch,
    flag_field: str = "maybe_seen",
) -> DataFrame:
    """Add a boolean ``flag_field``: True = the sketch MAY contain the
    value (true member or false positive at the sketch's saturation
    rate), False = DEFINITELY not a member (for keys the sketch was
    fit on — the module-level staleness contract), NULL for NULL
    input.  Positions compute JVM-side (codegen); the bitmap rides
    one Arrow-batched pandas UDF doing a vectorized numpy gather —
    narrow, zero exchanges."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if flag_field in df.columns:
        raise ValueError(
            f"output column {flag_field!r} already exists — "
            "withColumn would silently replace it"
        )
    words = sketch.words  # closure capture -> shipped once per task
    k = sketch.num_hashes

    def _test_fn(pos_ser):
        out = np.zeros(len(pos_ser), dtype=object)
        vals = pos_ser.tolist()
        idx = [i for i, v in enumerate(vals) if v is not None]
        if idx:
            arr = np.asarray(
                [vals[i] for i in idx], dtype=np.int64
            ).reshape(len(idx), k)
            w = words[arr >> 6]
            hit = (
                (w >> (arr & 63).astype(np.uint64))
                & np.uint64(1)
            ).astype(bool)
            allhit = hit.all(axis=1)
            for j, i in enumerate(idx):
                out[i] = bool(allhit[j])
        for i, v in enumerate(vals):
            if v is None:
                out[i] = None
        return pd.Series(out)

    # `from __future__ import annotations` stringifies hints; assign
    # real objects (the CompressionRatioMapper precedent)
    _test_fn.__annotations__ = {"pos_ser": pd.Series, "return": pd.Series}
    _test = pandas_udf(_test_fn, "boolean")
    pos = _position_cols(
        F.col(col), sketch.num_bits, sketch.num_hashes, sketch.salt
    )
    parr = F.when(F.col(col).isNotNull(), F.array(*pos))
    return df.withColumn(flag_field, _test(parr))
