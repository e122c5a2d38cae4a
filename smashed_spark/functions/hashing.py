"""Portable hashing primitives for dedup / fingerprinting.

Everything here is chosen to be *engine-portable*: the same value is
computable in Spark SQL and in DuckDB (for oracle checks), with no
Python in the hot path.

Base primitive: the first 8 hex chars of ``md5(s)`` parsed as an
integer — ``conv(substr(md5(s),1,8),16,10)`` in Spark,
``('0x' || substr(md5(s),1,8))::BIGINT`` in DuckDB.  32 bits of a
cryptographic digest: uniform, deterministic, cheap (JVM-side).

MinHash permutations are affine maps ``(a_k * h + b_k) mod P`` over
that base hash (standard construction, e.g. Broder 1997; P is the
Mersenne prime 2^31-1).

The cosine kernel of the similarity operators lives here too, so that
every tier computes cosine the same way: a guarded Column expression
(:func:`guarded_cosine`) for the expression-join tiers, and numpy
blocks (:func:`broadcast_matrix`, :func:`cosine_block`,
:func:`cosine_rows`) for the broadcast-matrix and rerank tiers.  All
of them score an all-zero vector 0.0 against everything.  Those exact
tiers divide the raw dot product by the norm product; the cell and
quantizer tiers instead work on :func:`unit_rows`.  The two formulas
can differ in the last bits, so each one has exactly one copy.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def hash_coeffs(k: int) -> List[tuple]:
    """Deterministic affine coefficients for k minhash permutations."""
    return [(1 + 2 * i, 97 + 31 * i) for i in range(k)]


def portable_hash32(col: Column, word: int = 0) -> Column:
    """32-bit integer from an 8-hex-char window of the md5 digest
    (portable to DuckDB).  ``word`` selects the window: 0 = chars 1-8
    (the historical prefix hash), 1 = chars 9-16, ... up to 3 — four
    independent 32-bit hashes from one digest, used to build >32-bit
    simhash fingerprints without a second md5 pass."""
    if not 0 <= word <= 3:
        raise ValueError("md5 yields 4 32-bit words; word must be 0..3")
    return F.conv(
        F.substring(F.md5(col), 1 + 8 * word, 8), 16, 10
    ).cast("bigint")


def portable_hash60(col: Column) -> Column:
    """60-bit integer from the first 15 hex chars of the md5 digest —
    ``conv(substr(md5(s),1,15),16,10)`` in Spark,
    ``('0x' || substr(md5(s),1,15))::BIGINT`` in DuckDB.  Used where a
    32-bit hash would collide (KMV distinct sketches: the estimator
    divides by the k-th smallest hash, so hash-space resolution bounds
    the countable cardinality); 60 bits stay positive in a signed
    int64 on both engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def km_positions(
    col: Column, count: int, modulus: int, tag: str, salt: int
) -> "list[Column]":
    """Kirsch-Mitzenmacher double-hash positions from ONE md5 — the
    shared convention behind the Bloom bitmap (functions/bloom.py)
    and the Count-Min counters (functions/cms.py), kept in one place
    so the fit/probe pairs and their DuckDB replays can never
    diverge: ``h1 = ('0x'||substr(md5(k||':'||tag||':'||salt),1,8))
    ::BIGINT``, ``h2 = ('0x'||substr(...,9,8))::BIGINT | 1`` (forced
    odd), ``pos_i = (h1 + i*h2) % modulus``."""
    dig = F.md5(F.concat(col.cast("string"), F.lit(f":{tag}:{salt}")))
    h1 = F.conv(F.substring(dig, 1, 8), 16, 10).cast("bigint")
    h2 = (
        F.conv(F.substring(dig, 9, 8), 16, 10)
        .cast("bigint")
        .bitwiseOR(F.lit(1))
    )
    return [
        (h1 + F.lit(i) * h2) % F.lit(modulus) for i in range(count)
    ]


def word_shingles(words: Column, n: int) -> Column:
    """Distinct word n-grams (joined with a space) from a words array.

    Narrow per-row expression; output size is O(len(words)).
    """
    count = F.size(words) - F.lit(n - 1)
    starts = F.when(count > 0, F.sequence(F.lit(0), count - 1)).otherwise(
        F.array().cast("array<integer>")
    )
    grams = F.transform(
        starts, lambda i: F.array_join(F.slice(words, i + 1, n), " ")
    )
    return F.array_distinct(grams)


def minhash_signature(
    shingles: Column, k: int, hashes_precomputed: bool = False
) -> Column:
    """k-element minhash signature over a shingle array.

    One pass per permutation over the shingle hashes; all JVM-side.
    Empty shingle sets get ``P`` (the max value) in every slot so they
    never collide with real content.

    Performance: pass ``hashes_precomputed=True`` with a column of
    *already-hashed* shingles — otherwise the md5 base hash appears
    once per permutation in the expression tree (Catalyst does not CSE
    across the k ``transform`` lambdas, so k=16 would md5 every shingle
    16 times).
    """
    base = shingles if hashes_precomputed else F.transform(shingles, lambda t: portable_hash32(t))

    def affine(a: int, b: int):
        # NB: no default-arg capture — pyspark counts default args as
        # lambda parameters when binding higher-order functions
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)

    sig = []
    for a, b in hash_coeffs(k):
        perm = F.transform(base, affine(a, b))
        sig.append(F.coalesce(F.array_min(perm), F.lit(MERSENNE_P)))
    return F.array(*sig)


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: md5 of each signature slice, as
    ``array<struct<band int, key string>>``.  Documents sharing any
    (band, key) are candidate pairs.
    """
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.array_join(
                        F.slice(signature, b * rows_per_band + 1, rows_per_band),
                        ",",
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def simhash(
    tokens: Column,
    bits: int = 16,
    hashes_precomputed: bool = False,
    hash_word: int = 0,
) -> Column:
    """SimHash over a token array (Charikar 2002): for each bit
    position, sum +1/-1 according to each token-hash's bit, then take
    the sign.  Returns a ``bigint``.

    JVM-side: O(bits × tokens) boolean arithmetic per row, no shuffle.

    Performance: pass ``hashes_precomputed=True`` with a column of
    already-hashed tokens (project it first) — Catalyst does not CSE
    the hash ``transform`` across the ``bits`` aggregate folds, so
    inline hashing would md5 every token ``bits`` times (measured 10x
    slowdown at bits=32).

    A single md5 word carries 32 hash bits, so ``bits`` caps at 32
    here; :class:`~smashed_spark.functions.dedup.SimHashMapper`
    composes wider fingerprints (up to 64) from independent md5 words
    (``hash_word`` selects which word the inline path hashes with).
    """
    if bits > 32:
        raise ValueError(
            "simhash() draws bits from one 32-bit token hash; compose "
            "wider fingerprints from independent hash words (see "
            "SimHashMapper)"
        )
    hashes = (
        tokens
        if hashes_precomputed
        else F.transform(tokens, lambda t: portable_hash32(t, hash_word))
    )

    return simhash_from_hashes(hashes, bits)


def simhash_from_hashes(hashes: Column, bits: int) -> Column:
    """SimHash fingerprint from a column of PRECOMPUTED integer token
    hashes (any width up to 64 bits — md5 words, xxhash64, ...).

    ONE traversal of the token array accumulating all per-bit sign
    sums in a bits-wide array (zip_with add against the bit masks),
    then one fold packs signs into the fingerprint.  Bit-identical to
    the per-bit aggregate-fold formulation (sum > 0 -> bit set) and
    ~1.6x faster at bits=56 / sf0.1: the higher-order fold is
    interpreted per element, so ONE pass with a wide accumulator beats
    ``bits`` passes with scalar accumulators.  Bit 63's mask is the
    sign bit — added as the negative two's-complement value so a
    64-bit fingerprint stays inside a signed bigint (same convention
    as SimHashMapper's wide composition).
    """
    if not 0 < bits <= 64:
        raise ValueError("bits must be in 1..64")
    mask_vals = [
        (1 << b) if b < 63 else -(1 << 63) for b in range(bits)
    ]
    masks = F.array(*[F.lit(m).cast("bigint") for m in mask_vals])
    acc0 = F.array_repeat(F.lit(0).cast("bigint"), bits)
    sums = F.aggregate(
        hashes,
        acc0,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def vector_norm(v: Column) -> Column:
    """L2 norm of a double array (sequential sum — engine-portable)."""
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def vector_dot(a: Column, b: Column) -> Column:
    """Dot product of two double arrays (sequential sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def guarded_cosine(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """``dot / (norm_a * norm_b)``, or 0.0 when either norm is 0: an
    all-zero vector has cosine 0.0 to everything.  Unguarded, 0/0 is
    NaN (or a DIVIDE_BY_ZERO error under ANSI mode), and Spark sorts
    NaN above every double.  A NULL norm still gives NULL."""
    return F.when((norm_a == 0) | (norm_b == 0), F.lit(0.0)).otherwise(
        dot / (norm_a * norm_b)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity between two numeric arrays, computed in double
    precision with sequential summation (stable across engines); 0.0
    when either vector is all-zero."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    return guarded_cosine(vector_dot(da, db), vector_norm(da), vector_norm(db))


def broadcast_matrix(df, vector_field: str, id_field=None):
    """Collect ``df``'s vectors to the driver and broadcast ``(ids,
    mat, norms)``: int64 ids (``None`` without ``id_field``), the
    float64 matrix and its row norms.  An empty side broadcasts a
    ``(0, 0)`` matrix."""
    import numpy as np

    cols = [vector_field] if id_field is None else [id_field, vector_field]
    rows = df.select(*cols).collect()
    ids = (
        None
        if id_field is None
        else np.array([r[0] for r in rows], dtype=np.int64)
    )
    mat = (
        np.array([r[-1] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    norms = np.sqrt((mat * mat).sum(axis=1))
    return df.sparkSession.sparkContext.broadcast((ids, mat, norms))


def _inf_if_zero(norms):
    # a zero norm becomes an infinite denominator: 0 / inf = 0.0
    import numpy as np

    return np.where(norms == 0.0, np.inf, norms)


def cosine_block(q_mat, c_mat, c_norms):
    """Cosine of every row of ``q_mat`` against every row of ``c_mat``
    (whose row norms are ``c_norms``): one BLAS matmul over the outer
    product of the norms, rounded to 6 places; 0.0 wherever either
    vector is all-zero."""
    import numpy as np

    q_norms = np.sqrt((q_mat * q_mat).sum(axis=1))
    return np.round(
        (q_mat @ c_mat.T)
        / np.outer(_inf_if_zero(q_norms), _inf_if_zero(c_norms)),
        6,
    )


def cosine_rows(q, c):
    """Row-wise cosine of ``q[i]`` and ``c[i]``, rounded to 6 places,
    with :func:`cosine_block`'s zero-norm rule."""
    import numpy as np

    dots = np.einsum("ij,ij->i", q, c)
    q_norms = np.sqrt(np.einsum("ij,ij->i", q, q))
    c_norms = np.sqrt(np.einsum("ij,ij->i", c, c))
    return np.round(dots / (_inf_if_zero(q_norms) * _inf_if_zero(c_norms)), 6)


def unit_rows(mat, out=None):
    """``mat`` with each row scaled to unit L2 norm; a norm below
    1e-12 divides by 1e-12, so an all-zero row stays all-zero.  A 1-D
    ``mat`` is one vector.  ``out=mat`` normalizes in place."""
    import numpy as np

    axis = None if mat.ndim == 1 else 1
    norms = np.linalg.norm(mat, axis=axis, keepdims=True)
    return np.divide(mat, np.maximum(norms, 1e-12), out=out)


def contains_map_type(dt) -> bool:
    """True when a Spark DataType contains a MapType at ANY nesting
    depth — Spark's hash functions (xxhash64/hash/md5-over-struct)
    reject maps recursively, so a top-level isinstance check misses
    struct<... map ...> and array<map> schemas and fails at analysis
    time."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return contains_map_type(dt.elementType)
    if isinstance(dt, StructType):
        return any(contains_map_type(f.dataType) for f in dt.fields)
    return False
