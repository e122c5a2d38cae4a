"""Deduplication operators for large-scale corpus curation.

Beyond the reference's surface (it has no joins or aggregations), these
are the operators a 100 TB training-data pipeline needs.  Each is a
:class:`SparkMapper` so it composes into pipelines.

Scale design
------------
* **Exact**: hash-aggregate on a text digest — one shuffle keyed by the
  digest; AQE splits skewed digests (identical boilerplate documents).
* **MinHash + LSH**: signature computation is narrow (per-row);
  candidate generation explodes ``bands`` rows per doc and shuffles on
  the (band, key) bucket — cost scales with corpus size × bands, never
  with the pairwise O(n²).  Verification re-checks candidates with the
  exact Jaccard on shingle sets (a self-equi-join on doc ids, broadcast
  when the candidate set is small).
* **N-gram Jaccard**: the exact quadratic method, for modest corpora or
  as the verifier behind LSH; the shingle-inverted-index join shuffles
  on shingles — frequency-capped to bound hub shingles.
* **SimHash**: near-dup via Hamming distance on a compact integer —
  narrow compute, then bucket-join on rotated prefixes.
* **Embedding cosine**: see functions/similarity.py.
* **Semantic (SemDeDup)**: spherical-kmeans cells (auto-sized so the
  per-cell quadratic stays constant), cosine evaluated within cells
  only — O(N²/k).
* **One-call recipes**: :func:`fuzzy_dedup` / :func:`semantic_dedup`
  run pairs -> connected components -> per-doc (cluster_id, is_kept)
  tags; :func:`dedup_incremental` anti-joins a new batch against a
  running digest index (append-only ingestion).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.mapper import SparkMapper
from ..core.order import null_key_guard, unique_key_guard
from ..core.sizing import fits
from .hashing import (
    band_keys,
    broadcast_matrix,
    cosine_block,
    guarded_cosine,
    minhash_signature,
    simhash,
    unit_rows,
    vector_dims,
    vector_dot,
    vector_norm,
    word_shingles,
)


class ExactDedupMapper(SparkMapper):
    """Exact dedup on a text column: keep the first document (by
    ``order_by``) of each identical-content group; optionally emit the
    group size as ``dup_count``.

    Plan: md5 digest (narrow) -> hash aggregate keyed on digest (one
    shuffle) with map-side partial aggregation.
    """

    def __init__(
        self,
        text_field: str = "text",
        order_by: str = "doc_id",
        dup_count_field: Optional[str] = "dup_count",
    ) -> None:
        self.text_field = text_field
        self.order_by = order_by
        self.dup_count_field = dup_count_field
        super().__init__(input_fields=[text_field, order_by])

    def apply(self, df: DataFrame) -> DataFrame:
        digest = F.md5(F.col(self.text_field))
        keyed = df.withColumn("__digest__", digest)
        # min_by keeps the whole first row per group and stays in the
        # (object) hash aggregate — min(struct(...)) would force a
        # sort-based aggregate, a per-partition sort we don't need
        aggs = [
            F.min_by(F.struct(*df.columns), F.col(self.order_by)).alias(
                "__keep__"
            ),
            F.count(F.lit(1)).alias("__cnt__"),
        ]
        grouped = keyed.groupBy("__digest__").agg(*aggs)
        cols = [
            F.col("__keep__").getField(c).alias(c) for c in df.columns
        ]
        out = grouped.select(*cols, F.col("__cnt__"))
        if self.dup_count_field:
            out = out.withColumnRenamed("__cnt__", self.dup_count_field)
        else:
            out = out.drop("__cnt__")
        return out.select(
            *df.columns,
            *([self.dup_count_field] if self.dup_count_field else []),
        )


class MinHashMapper(SparkMapper):
    """Attach a MinHash signature column computed from a words array
    (shingle -> minhash; Broder 1997).  Narrow, JVM-side."""

    def __init__(
        self,
        words_field: str = "words",
        signature_field: str = "minhash",
        num_hashes: int = 16,
        shingle_size: int = 3,
        hash_fn: str = "md5",
    ) -> None:
        if hash_fn not in ("md5", "xxhash64"):
            raise ValueError("hash_fn must be 'md5' or 'xxhash64'")
        self.words_field = words_field
        self.signature_field = signature_field
        self.num_hashes = num_hashes
        self.shingle_size = shingle_size
        # md5 (default): the engine-portable convention DuckDB oracles
        # replay.  xxhash64: the production fast path — the shingle
        # hash is reduced mod the Mersenne prime BEFORE the affine
        # permutations so a*h stays inside a signed bigint (md5's
        # 32-bit hashes never overflow; a raw 63-bit xxhash would).
        # Signatures differ between the two (different hash family),
        # LSH semantics don't.
        self.hash_fn = hash_fn
        super().__init__(
            input_fields=[words_field], output_fields=[signature_field]
        )

    def apply(self, df: DataFrame) -> DataFrame:
        from .hashing import MERSENNE_P, portable_hash32

        sh = word_shingles(F.col(self.words_field), self.shingle_size)
        if self.hash_fn == "xxhash64":
            base_hash = lambda t: F.pmod(  # noqa: E731
                F.xxhash64(t), F.lit(MERSENNE_P)
            )
        else:
            base_hash = portable_hash32
        # materialize the base hashes once so the k permutations reuse
        # them instead of re-hashing every shingle k times
        df = df.withColumn("__shingle_hashes__", F.transform(sh, lambda t: base_hash(t)))
        out = df.withColumn(
            self.signature_field,
            minhash_signature(
                F.col("__shingle_hashes__"),
                self.num_hashes,
                hashes_precomputed=True,
            ),
        )
        return out.drop("__shingle_hashes__")


class MinHashLSHPairsMapper(SparkMapper):
    """Candidate near-duplicate pairs via LSH banding over a MinHash
    signature column (shingle->minhash->band->bucket-join).

    Output: ``(id_a, id_b)`` with ``id_a < id_b``, deduplicated across
    bands.  Shuffles on the band bucket key — the scalable path: cost is
    O(docs × bands), not O(docs²).
    """

    def __init__(
        self,
        id_field: str,
        signature_field: str = "minhash",
        bands: int = 4,
        rows_per_band: int = 4,
        carry_signatures: bool = False,
    ) -> None:
        self.id_field = id_field
        self.signature_field = signature_field
        self.bands = bands
        self.rows_per_band = rows_per_band
        # carry the full signatures through the band shuffle and emit
        # them as ``minhash_a``/``minhash_b``: ``bands`` x ~64 B extra
        # per doc in the bucket exchange instead of two post-joins —
        # full-evaluation A/B measures parity at sf0.1; prefer the
        # single-plan form for simplicity
        self.carry_signatures = carry_signatures
        super().__init__(input_fields=[id_field, signature_field])

    def apply(self, df: DataFrame) -> DataFrame:
        sig_cols = (
            [F.col(self.signature_field).alias("__sig__")]
            if self.carry_signatures
            else []
        )
        buckets = df.select(
            F.col(self.id_field).alias("__id__"),
            *sig_cols,
            F.explode(
                band_keys(
                    F.col(self.signature_field), self.bands, self.rows_per_band
                )
            ).alias("__bk__"),
        ).select(
            "__id__",
            *(["__sig__"] if self.carry_signatures else []),
            F.col("__bk__").getField("band").alias("__band__"),
            F.col("__bk__").getField("key").alias("__key__"),
        )
        left = buckets.alias("l")
        right = buckets.alias("r")
        carried = (
            [
                F.col("l.__sig__").alias("minhash_a"),
                F.col("r.__sig__").alias("minhash_b"),
            ]
            if self.carry_signatures
            else []
        )
        pairs = (
            left.join(
                right,
                (F.col("l.__band__") == F.col("r.__band__"))
                & (F.col("l.__key__") == F.col("r.__key__"))
                & (F.col("l.__id__") < F.col("r.__id__")),
            )
            .select(
                F.col("l.__id__").alias("id_a"),
                F.col("r.__id__").alias("id_b"),
                *carried,
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        return pairs


class SimHashMapper(SparkMapper):
    """Attach a SimHash fingerprint (Charikar 2002) over a words array.
    Near-dups have small Hamming distance between fingerprints.

    Defaults to 64-bit fingerprints so the default composition with
    :class:`SimHashNearDupPairsMapper` (which also defaults to 64 —
    the Manku et al. web-scale setting) is coherent: a 16-bit
    fingerprint banded as 64 would leave three of four bands constant
    and degenerate the banded join into all-pairs.  ``bits`` <= 32
    draws sign bits from one md5 word; wider fingerprints compose two
    independent 32-bit simhashes (md5 words 0 and 1) as ``hi * 2^32 +
    lo`` in signed two's-complement — the low 32 bits equal the plain
    ``bits=32`` fingerprint by construction.

    ``bits`` in 65..128 is the EXTREME-SCALE tier (>~10^9 docs, where
    64-bit band buckets start to fill — see
    ``SimHashNearDupPairsMapper``'s occupancy math): the output
    column becomes ``array<bigint>`` of two words, little-endian —
    word 0 is bit-identical to the plain ``bits=64`` fingerprint
    (md5 words 0..1, or ``xxhash64(t)``), word 1 carries bits 64+
    from independent hash material (md5 words 2..3, or
    ``xxhash64(t, 1)``).
    """

    def __init__(
        self,
        words_field: str = "words",
        output_field: str = "simhash",
        bits: int = 64,
        hash_fn: str = "md5",
    ) -> None:
        if not 0 < bits <= 128:
            raise ValueError("bits must be in 1..128")
        if hash_fn not in ("md5", "xxhash64"):
            raise ValueError("hash_fn must be 'md5' or 'xxhash64'")
        self.words_field = words_field
        self.output_field = output_field
        self.bits = bits
        # md5 (default) is the engine-portable convention the DuckDB
        # oracles replay; xxhash64 is the production fast path — one
        # 64-bit token hash feeds all bit positions directly (no
        # hex->int conversion, no two-word composition), at scan
        # speed.  Fingerprints differ between the two (different hash
        # family), near-dup SEMANTICS don't.
        self.hash_fn = hash_fn
        super().__init__(
            input_fields=[words_field], output_fields=[output_field]
        )

    def apply(self, df: DataFrame) -> DataFrame:
        from .hashing import portable_hash32, simhash_from_hashes

        words = F.col(self.words_field)
        if self.hash_fn == "xxhash64":
            hashed = df.withColumn(
                "__tok_h64__", F.transform(words, lambda t: F.xxhash64(t))
            )
            if self.bits <= 64:
                out = hashed.withColumn(
                    self.output_field,
                    simhash_from_hashes(F.col("__tok_h64__"), self.bits),
                )
                return out.drop("__tok_h64__")
            # wide tier: word 1's sign bits come from an independent
            # seeded hash (xxhash64 of (token, 1)), so the two words
            # carry 128 independent bits
            hashed = hashed.withColumn(
                "__tok_h64b__",
                F.transform(words, lambda t: F.xxhash64(t, F.lit(1))),
            )
            out = hashed.withColumn(
                self.output_field,
                F.array(
                    simhash_from_hashes(F.col("__tok_h64__"), 64),
                    simhash_from_hashes(
                        F.col("__tok_h64b__"), self.bits - 64
                    ),
                ),
            )
            return out.drop("__tok_h64__", "__tok_h64b__")
        if self.bits <= 32:
            # project the token hashes ONCE: Catalyst does not CSE the
            # hash transform across the per-bit folds in simhash()
            hashed = df.withColumn(
                "__tok_h0__",
                F.transform(words, lambda t: portable_hash32(t, 0)),
            )
            out = hashed.withColumn(
                self.output_field,
                simhash(
                    F.col("__tok_h0__"), self.bits, hashes_precomputed=True
                ),
            )
            return out.drop("__tok_h0__")
        # wide fingerprints: md5 each token ONCE (the digest carries
        # 128 bits = four 32-bit words) and slice the needed words out
        # of the projected digest — separate portable_hash32 transforms
        # would pay the md5 pass once per word

        def word(digests, w: int):
            return F.transform(
                digests,
                lambda d: F.conv(
                    F.substring(d, 1 + 8 * w, 8), 16, 10
                ).cast("bigint"),
            )

        n_words = 2 if self.bits <= 64 else 4
        hashed = df.withColumn("__tok_md5__", F.transform(words, F.md5))
        tmp = ["__tok_md5__"]
        for w in range(min(n_words, (self.bits + 31) // 32)):
            hashed = hashed.withColumn(
                f"__tok_h{w}__", word(F.col("__tok_md5__"), w)
            )
            tmp.append(f"__tok_h{w}__")

        def fp_from(base_word: int, nbits: int) -> Column:
            """Up-to-64-bit fingerprint from md5 words base_word (low
            32 sign bits) and base_word+1 (high nbits-32)."""
            if nbits <= 32:
                return simhash(
                    F.col(f"__tok_h{base_word}__"),
                    nbits,
                    hashes_precomputed=True,
                )
            lo = simhash(
                F.col(f"__tok_h{base_word}__"), 32, hashes_precomputed=True
            )
            hi = simhash(
                F.col(f"__tok_h{base_word + 1}__"),
                nbits - 32,
                hashes_precomputed=True,
            )
            if nbits == 64:
                # top bit set -> negative bigint (two's complement):
                # keep the product inside signed-64 range
                hi = F.when(
                    hi >= F.lit(1 << 31), hi - F.lit(1 << 32)
                ).otherwise(hi)
            return hi * F.lit(1 << 32) + lo

        if self.bits <= 64:
            out = hashed.withColumn(self.output_field, fp_from(0, self.bits))
        else:
            out = hashed.withColumn(
                self.output_field,
                F.array(fp_from(0, 64), fp_from(2, self.bits - 64)),
            )
        return out.drop(*tmp)


class SimHashNearDupPairsMapper(SparkMapper):
    """Pairs of documents within a Hamming ball of each other's SimHash
    — the classic simhash near-dup detector (Charikar 2002; Manku et
    al. 2007 use exactly this banding for web-scale dedup).

    EXACT by pigeonhole: two fingerprints with Hamming distance <=
    ``max_hamming`` must agree exactly on at least one of
    ``max_hamming + 1`` disjoint bit-bands, so banding loses nothing.
    Plan shape: explode each fingerprint into its bands, equi-join on
    (band index, band value) — a plain shuffled hash join, O(docs x
    bands) rows, no cartesian product — then one ``bit_count(xor)``
    verifies candidates.  All JVM-side bit algebra.

    Band-occupancy math (why ``bits`` defaults to 64): with
    ``max_hamming + 1`` bands each band carries ``bits /
    (max_hamming + 1)`` bits, so a band takes ``2^(bits /
    (max_hamming+1))`` distinct values and an N-doc corpus puts ~``N /
    2^(bits/(max_hamming+1))`` docs in each bucket — the join emits
    the *square* of that per bucket.  At ``bits=64, max_hamming=3``
    that is 2^16 values/band (Manku et al.'s web-scale setting:
    buckets stay tiny up to hundreds of millions of docs); at
    ``bits=16`` it is 2^4 = 16 values/band, i.e. O(N/16)-sized
    buckets and quadratic fan-out at corpus scale — only usable for
    small corpora or oracle-parity runs.  Past ~10^9–10^10 docs even
    16-bit bands fill (~N/2^16 docs/bucket): that is the WIDE tier —
    ``bits=128`` (fingerprint column as ``array<bigint>`` of two
    words, as :class:`SimHashMapper` emits for ``bits > 64``) gives
    32-bit bands at ``max_hamming=3``, i.e. 2^32 values/band, tiny
    buckets out past 10^11 docs.

    The math is ENFORCED, not just documented: unless
    ``max_band_occupancy=None``, an IN-PLAN guard — a running count
    over each (band, value) bucket wired into the band-key expression
    itself via ``raise_error`` — fails the job in the banding stage,
    BEFORE any quadratic join output exists, the moment a bucket
    exceeds the cap.  The guard's window partitions on exactly the
    join keys, so it rides the exchange + sort the sort-merge join
    already needs: zero extra Spark jobs, zero extra scans, and
    ``apply()`` stays fully lazy (rounds 7's eager plan-time probe —
    one extra full pass over the banded index per fresh plan — is
    gone).  Skipped for streaming inputs — non-time window functions
    are unsupported on streaming frames, so a direct streaming use of
    this mapper runs with NO occupancy protection (micro-batches are
    bounded by the trigger interval, which caps the damage but does
    not prevent a hot bucket inside one batch).  The supported
    streaming route is ``foreachBatch`` (the streaming/ingest.py
    pattern): its body receives BATCH frames (``df.isStreaming`` is
    False), so the guard is fully active there — pinned by
    tests/test_multimodal_streaming.py's foreachBatch guard test.
    """

    #: default fail-fast threshold for the hottest band bucket: 20k
    #: docs in one bucket -> ~2x10^8 candidate pairs from that bucket
    #: alone (minutes of skewed join work); legitimate near-dup
    #: clusters stay orders of magnitude below this
    DEFAULT_MAX_BAND_OCCUPANCY = 20_000

    def __init__(
        self,
        id_field: str,
        simhash_field: str = "simhash",
        bits: int = 64,
        max_hamming: int = 3,
        hamming_field: str = "hamming",
        emit_fingerprints: bool = False,
        max_band_occupancy: Optional[int] = DEFAULT_MAX_BAND_OCCUPANCY,
    ) -> None:
        if not 0 < bits <= 128:
            raise ValueError("bits must be in 1..128")
        if max_hamming < 0 or max_hamming >= bits:
            raise ValueError("need 0 <= max_hamming < bits")
        if bits > 64 and max_hamming < 1:
            # a single band would be the whole >64-bit fingerprint,
            # which a bigint band value cannot carry
            raise ValueError(
                "bits > 64 requires max_hamming >= 1 (bands must fit "
                "a 64-bit word); for hamming-0 identity on a wide "
                "fingerprint use exact dedup on the fingerprint words "
                "instead"
            )
        if max_band_occupancy is not None and max_band_occupancy < 1:
            raise ValueError("max_band_occupancy must be >= 1 or None")
        self.id_field = id_field
        self.simhash_field = simhash_field
        self.bits = bits
        self.max_hamming = max_hamming
        self.hamming_field = hamming_field
        # both endpoints' fingerprints already ride the banded shuffle
        # (the Hamming verify needs them), so ``simhash_a``/
        # ``simhash_b`` can be emitted without a post-join; a
        # full-evaluation A/B vs broadcast post-joins measures parity
        # at sf0.1, so this is a schema convenience, not a perf knob
        self.emit_fingerprints = emit_fingerprints
        self.max_band_occupancy = max_band_occupancy
        super().__init__(input_fields=[id_field, simhash_field])

    def _band_widths(self) -> List[int]:
        n_bands = self.max_hamming + 1
        base, rem = divmod(self.bits, n_bands)
        return [base + (1 if i < rem else 0) for i in range(n_bands)]

    def _band_value(self, words: List[Column], offset: int, width: int) -> Column:
        """Bits [offset, offset+width) of the little-endian multi-word
        fingerprint as a bigint.  __init__ guarantees width <= 64
        (bits > 64 forces >= 2 bands): the encoding is injective mod
        2^64 and used only for equality, so a width-64 band landing in
        the sign bit (a negative value) is fine."""
        w, bit = divmod(offset, 64)
        if bit + width <= 64:
            part = F.shiftrightunsigned(words[w], bit)
            if bit + width < 64:
                part = part.bitwiseAND(F.lit((1 << width) - 1))
            return part
        # band straddles a word boundary: low (64 - bit) bits from
        # word w, the remaining bits from the bottom of word w + 1
        lo_width = 64 - bit
        lo = F.shiftrightunsigned(words[w], bit)
        hi = words[w + 1].bitwiseAND(
            F.lit((1 << (width - lo_width)) - 1)
        )
        return F.shiftleft(hi, lo_width).bitwiseOR(lo)

    def _guard_band_occupancy(self, base: DataFrame) -> DataFrame:
        """Fail fast when any band bucket is hot enough to make the
        banded self-join's OUTPUT quadratic (the same degenerate-input
        guard as SemanticNearDupPairsMapper.max_cell_size) — wired
        INTO the plan, not probed eagerly: a running count over each
        (band, value) bucket replaces the band value with
        ``raise_error`` the moment a bucket exceeds the cap, so the
        job dies in the banding stage before the join emits a single
        quadratic pair.  The window partitions on exactly the join
        keys, so its exchange + sort ARE the join's own exchange +
        sort — zero additional scans or jobs, and apply() stays lazy.

        The guard wraps the ID column, NOT the band value: wrapping a
        join key would hide the equality between the window's
        partitioning (hash of the raw keys) and the join's requirement
        (hash of the wrapped expression), making Catalyst insert a
        second full exchange of the banded index per side under a
        sort-merge join.  The id is carried — join condition and
        output need it, so the guard always evaluates — but it is not
        a partition key, so the window's exchange satisfies the join
        directly.
        """
        from pyspark.sql.window import Window

        cap = self.max_band_occupancy
        widths = self._band_widths()
        occ = F.count(F.lit(1)).over(Window.partitionBy("__b__", "__v__"))
        msg = F.concat(
            F.lit("SimHashNearDupPairsMapper: a band bucket holds "),
            occ.cast("string"),
            F.lit(
                f" docs (cap {cap}); the banded self-join would emit "
                f"~n^2/2 candidate pairs from that bucket alone. Band "
                f"width is {min(widths)} bits (bits={self.bits}, "
                f"max_hamming={self.max_hamming} -> {len(widths)} "
                "bands). Fix: widen the fingerprint (bits=128 via "
                "SimHashMapper(bits=128) gives 32-bit bands at "
                "max_hamming=3), lower max_hamming (fewer, wider "
                "bands), pre-dedup exact duplicates (identical docs "
                "share every band), or raise/disable "
                "max_band_occupancy if the skewed join cost is "
                "acceptable."
            ),
        )
        return base.withColumn(
            "__id__",
            F.when(occ <= F.lit(cap), F.col("__id__")).otherwise(
                F.raise_error(msg)
            ),
        )

    def apply(self, df: DataFrame) -> DataFrame:
        multiword = self.bits > 64
        if multiword:
            col = F.col(self.simhash_field)
            words = [
                F.element_at(col, 1).cast("bigint"),
                F.element_at(col, 2).cast("bigint"),
            ]
            h_expr = F.array(*words)
        else:
            words = [F.col(self.simhash_field).cast("bigint")]
            h_expr = words[0]
        bands = []
        offset = 0
        for i, width in enumerate(self._band_widths()):
            bands.append(
                F.struct(
                    F.lit(i).alias("b"),
                    self._band_value(words, offset, width).alias("v"),
                )
            )
            offset += width
        base = df.select(
            F.col(self.id_field).alias("__id__"),
            h_expr.alias("__h__"),
            F.explode(F.array(*bands)).alias("__band__"),
        ).select(
            "__id__",
            "__h__",
            F.col("__band__.b").alias("__b__"),
            F.col("__band__.v").alias("__v__"),
        )
        if self.max_band_occupancy is not None and not df.isStreaming:
            base = self._guard_band_occupancy(base)
        if multiword:
            hamming = (
                F.bit_count(
                    F.element_at(F.col("l.__h__"), 1).bitwiseXOR(
                        F.element_at(F.col("r.__h__"), 1)
                    )
                )
                + F.bit_count(
                    F.element_at(F.col("l.__h__"), 2).bitwiseXOR(
                        F.element_at(F.col("r.__h__"), 2)
                    )
                )
            )
        else:
            hamming = F.bit_count(
                F.col("l.__h__").bitwiseXOR(F.col("r.__h__"))
            )
        l, r = base.alias("l"), base.alias("r")
        carried = (
            [
                F.col("l.__h__").alias("simhash_a"),
                F.col("r.__h__").alias("simhash_b"),
            ]
            if self.emit_fingerprints
            else []
        )
        return (
            l.join(
                r,
                (F.col("l.__b__") == F.col("r.__b__"))
                & (F.col("l.__v__") == F.col("r.__v__"))
                & (F.col("l.__id__") < F.col("r.__id__")),
            )
            .select(
                F.col("l.__id__").alias("id_a"),
                F.col("r.__id__").alias("id_b"),
                hamming.cast("bigint").alias(self.hamming_field),
                *carried,
            )
            # verify BEFORE deduplicating: bit_count is a cheap
            # map-side filter, and candidates outside the ball (the
            # vast majority under band skew) never reach the
            # dropDuplicates shuffle
            .filter(F.col(self.hamming_field) <= self.max_hamming)
            .dropDuplicates(["id_a", "id_b"])
        )


class NGramJaccardPairsMapper(SparkMapper):
    """Exact n-gram Jaccard similar pairs via a shingle inverted index:
    explode distinct shingles, self-join on shingle, count
    intersections, compute ``|A∩B| / (|A|+|B|-|A∩B|)``.

    Scale: shuffles on shingles; ``max_shingle_freq`` (default **1024**)
    drops hub shingles (appearing in more than N docs) to bound the join
    fan-out — standard practice, loses only pairs whose *every* common
    shingle is a hub.

    Two exact plans, picked per input by a BOUNDED sample probe (one
    small job over ``AUTO_PROBE_DOCS`` docs at plan time):

    * ``join`` (:meth:`_pairs_join`) — a codegen'd sort-merge self-join
      over hashed shingle keys: streaming, no per-group memory bound.
    * ``prefix`` (:meth:`_pairs_prefix`) — PPJoin-style prefix
      filtering: candidates come only from each doc's RAREST
      ``|x| - ceil(t|x|) + 1`` shingles, so the sum(freq^2) join
      fan-out of frequent shingles disappears.  On a 20k-doc Zipfian
      corpus it runs 2.4x faster than ``join`` (9.7 s vs 23.6 s) and
      without the memory blowup; on uniform tiny-vocab data (no rare
      shingles to exploit) plain ``join`` is faster.  At true 100 TB
      scale prefer :class:`MinHashLSHPairsMapper` and use this as the
      verifier on candidates.

    The probe measures the self-join's *fan-out skew ratio*
    ``D * sum(f^2) / P^2`` over shingle doc-frequencies (D = distinct
    shingles, P = postings) — exactly 1.0 when every shingle has the
    same frequency (prefix filtering has no rare shingles to exploit;
    ``join``'s fan-out is already minimal for that posting mass) and
    growing with frequency concentration (hub shingles dominate the
    fan-out, and rare-prefix filtering removes them from candidate
    generation).  Measured: Zipfian corpora 30-220, uniform tiny-vocab
    and the bundled fixture 1.0-1.3 — at BOTH full and sampled scale,
    which is what makes it a sound sample statistic (the hapax ratio,
    by contrast, is ~0.9 for uniform random trigrams too, and
    discriminates nothing).  At or above ``AUTO_SKEW_THRESHOLD`` the
    probe picks ``prefix``.  The choice never changes the OUTPUT —
    both plans are exact and property-tested equal — only the plan; a
    test reaches either one by setting ``AUTO_SKEW_THRESHOLD`` (0 for
    ``prefix``, ``inf`` for ``join``).
    """

    # sample size for the skew probe (docs; `limit` pushes into the
    # scan, so the probe reads a few partitions regardless of corpus
    # size)
    AUTO_PROBE_DOCS = 2_000
    # route to "prefix" at or above this fan-out skew ratio; uniform
    # corpora measure ~1.0-1.3, Zipfian 30+, so 3.0 splits the
    # regimes with an order-of-magnitude margin on each side
    AUTO_SKEW_THRESHOLD = 3.0

    def __init__(
        self,
        id_field: str,
        words_field: str = "words",
        shingle_size: int = 3,
        threshold: float = 0.5,
        max_shingle_freq: Optional[int] = 1024,
    ) -> None:
        self.id_field = id_field
        self.words_field = words_field
        self.shingle_size = shingle_size
        self.threshold = threshold
        self.max_shingle_freq = max_shingle_freq
        super().__init__(input_fields=[id_field, words_field])

    def _inverted(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        base = df.select(
            F.col(self.id_field).alias("__id__"),
            word_shingles(
                F.col(self.words_field), self.shingle_size
            ).alias("__sh__"),
        ).withColumn("__n__", F.size("__sh__"))
        # shuffle 8-byte shingle keys, not n-gram strings (xxhash64
        # collisions across distinct shingles are ~|shingles|^2 / 2^65
        # — negligible vs the shuffle-width win at 100 TB)
        inv = base.select(
            "__id__", "__n__", F.explode("__sh__").alias("__s0__")
        ).select("__id__", "__n__", F.xxhash64("__s0__").alias("__s__"))
        if self.max_shingle_freq is not None:
            # frequency cap as a window over __s__: ONE hash exchange
            # that the downstream per-shingle groupBy/self-join reuses,
            # instead of a groupBy(freq)+join (two more exchanges of
            # the full inverted index)
            w = Window.partitionBy("__s__")
            inv = (
                inv.withColumn("__f__", F.count(F.lit(1)).over(w))
                .filter(F.col("__f__") <= self.max_shingle_freq)
                .drop("__f__")
            )
        return inv

    def _pairs_prefix(self, inv: DataFrame) -> DataFrame:
        """Prefix-filtered candidates (SSJoin/PPJoin family: Chaudhuri
        et al. 2006, Xiao et al. 2008) — EXACT, same output as
        :meth:`_pairs_join`: for Jaccard >= t, two sets must share an
        element within their ``|x| - ceil(t*|x|) + 1`` prefixes under
        one global total order.  Ordering by ascending global
        frequency puts RARE shingles in the prefixes, so frequent
        shingles (the join fan-out of the plain inverted index —
        candidates grow with sum(freq^2)) mostly fall outside every
        prefix; survivors verify by ``array_intersect`` over the full
        capped sets.  The canonical exact similarity self-join at
        corpus scale."""
        from pyspark.sql.window import Window

        t = self.threshold
        wf = Window.partitionBy("__s__")
        wid = Window.partitionBy("__id__")
        ranked = (
            inv.withColumn("__f__", F.count(F.lit(1)).over(wf))
            .withColumn("__nc__", F.count(F.lit(1)).over(wid))
            .withColumn(
                "__rk__",
                F.row_number().over(wid.orderBy("__f__", "__s__")),
            )
        )
        # ceil(t * nc) with an epsilon backoff: t is a double, and when
        # t*nc lands exactly on an integer (t=0.8, nc=5000) FP rounding
        # can push the product infinitesimally ABOVE the integer, so the
        # raw ceil shortens the prefix by one and silently drops a
        # boundary pair whose Jaccard is exactly t.  Backing the product
        # off by 1e-9 cannot grow the prefix spuriously: prefix length
        # only overshoots if t*nc was within 1e-9 of the NEXT integer,
        # and an overshoot merely adds a candidate (verification stays
        # exact).
        prefix_len = (
            F.col("__nc__")
            - F.ceil(F.lit(t) * F.col("__nc__") - F.lit(1e-9))
            + 1
        )
        prefix = ranked.filter(F.col("__rk__") <= prefix_len).select(
            "__id__", "__s__"
        )
        cand = (
            prefix.alias("l")
            .join(
                prefix.alias("r"),
                (F.col("l.__s__") == F.col("r.__s__"))
                & (F.col("l.__id__") < F.col("r.__id__")),
            )
            .select(
                F.col("l.__id__").alias("id_a"),
                F.col("r.__id__").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        sets = inv.groupBy("__id__").agg(
            F.collect_list("__s__").alias("__set__"),
            F.first("__n__").alias("__n__"),
        )
        a = sets.select(
            F.col("__id__").alias("id_a"),
            F.col("__set__").alias("__sa__"),
            F.col("__n__").alias("na"),
        )
        b = sets.select(
            F.col("__id__").alias("id_b"),
            F.col("__set__").alias("__sb__"),
            F.col("__n__").alias("nb"),
        )
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "inter",
                F.size(F.array_intersect("__sa__", "__sb__")).cast(
                    "bigint"
                ),
            )
            .select("id_a", "id_b", "na", "nb", "inter")
        )

    def _pairs_join(self, inv: DataFrame) -> DataFrame:
        # MERGE hint (r17): this is a SELF-join — when both sides
        # shuffle on __s__, ReuseExchange computes the inverted index
        # (shingle explode + hash + frequency-cap window) ONCE and
        # both sides read it, which is the class docstring's design.
        # Left to auto-selection, Catalyst instead broadcasts one side
        # at small SF, and the broadcast side RE-derives the whole
        # inverted index (its exchange cannot be reused into a
        # broadcast build): two shingle passes + a build for zero
        # gain.  At corpus scale the index never fits a broadcast, so
        # the hint only pins the plan the operator already has there.
        # (A shuffle_hash hint measured another ~10% at bench SF but
        # builds per-partition hash tables — it would break this
        # method's documented no-per-group-memory-bound contract at
        # scale, so merge stands.)
        l, r = inv.alias("l").hint("merge"), inv.alias("r")
        return (
            l.join(
                r,
                (F.col("l.__s__") == F.col("r.__s__"))
                & (F.col("l.__id__") < F.col("r.__id__")),
            )
            .groupBy(
                F.col("l.__id__").alias("id_a"),
                F.col("r.__id__").alias("id_b"),
                F.col("l.__n__").alias("na"),
                F.col("r.__n__").alias("nb"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )

    def _choose_method(self, df: DataFrame) -> str:
        """Pick the plan with a bounded-sample skew probe:
        shingle a ``limit``-ed doc sample, measure the fan-out skew
        ratio ``D * sum(f^2) / P^2`` (== 1.0 for perfectly uniform
        shingle frequencies; see class docstring), and route skewed
        (Zipfian) corpora to ``prefix``.  One small job; the ``limit``
        bound makes its cost independent of corpus size.  A sample
        UNDERSTATES the full-corpus ratio (thinning frequencies evens
        them out), which errs toward ``join`` — the safe direction: a
        missed ``prefix`` opportunity costs speed, never memory, while
        the measured gap (1.3 vs 30+) dwarfs the thinning."""
        probe = (
            df.select(
                word_shingles(
                    F.col(self.words_field), self.shingle_size
                ).alias("__sh__")
            )
            .limit(self.AUTO_PROBE_DOCS)
            .select(F.explode("__sh__").alias("__s__"))
            .groupBy("__s__")
            .agg(F.count(F.lit(1)).alias("__f__"))
            .agg(
                F.count(F.lit(1)).alias("__d__"),
                F.sum("__f__").alias("__p__"),
                F.sum(F.col("__f__") * F.col("__f__")).alias("__f2__"),
            )
            .collect()[0]
        )
        if not probe["__p__"]:
            return "join"  # empty corpus: either works, join is simpler
        ratio = probe["__d__"] * probe["__f2__"] / probe["__p__"] ** 2
        return (
            "prefix" if ratio >= self.AUTO_SKEW_THRESHOLD else "join"
        )

    def apply(self, df: DataFrame) -> DataFrame:
        # DOCUMENTED laziness exception (core/mapper.py defers all
        # execution to the terminal action): the plan choice runs ONE
        # bounded probe job at plan time — there is no way to pick a
        # physical plan from data without touching data (same
        # plan-time tiering as EmbeddingNearDupPairsMapper's size
        # estimate).  Memoized per INPUT PLAN (semanticHash —
        # driver-only, no job) so repeated apply()/explain() calls on
        # the same DataFrame don't re-probe, while reusing one mapper
        # instance across different corpora re-probes and picks the
        # right plan for each.
        memo = getattr(self, "_auto_choice", None)
        if memo is None:
            memo = self._auto_choice = {}
        plan_key = df.semanticHash()
        if plan_key not in memo:
            memo[plan_key] = self._choose_method(df)
        # inspectable after apply (plan-choice observability)
        self.resolved_method = memo[plan_key]
        inv = self._inverted(df)
        pairs = (
            self._pairs_prefix
            if self.resolved_method == "prefix"
            else self._pairs_join
        )
        inter = pairs(inv)
        jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        return (
            inter.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= self.threshold)
            .select("id_a", "id_b", "jaccard")
        )


class EmbeddingNearDupPairsMapper(SparkMapper):
    """Pairs of embeddings with cosine similarity above a threshold.

    Tier by corpus size (Catalyst's plan-time size estimate —
    choosing a tier triggers **no Spark job** when the estimate is
    known, which covers every file-backed source; an unknown estimate
    falls back to one bounded ``limit``-probe job):

    * within ``BROADCAST_LIMIT_BYTES`` — exact: broadcast the corpus
      matrix, one BLAS matmul per partition (no join at all).
    * larger — approximate: hyperplane-LSH bucket join (cost scales
      with bucket occupancy × tables, never O(n²)) + vectorized exact
      cosine rerank of bucket-mates.  Recall grows with ``num_tables``;
      a pair is missed only if it collides in *no* table:
      P(found) = 1 - (1 - p^num_bits)^num_tables, p = 1 - θ/π per bit.
      Near the default threshold (cos ≈ 0.35, p ≈ 0.6) short
      signatures dominate: 3 bits × 16 tables measures recall 0.99 on
      the testdata corpus where 3 × 10 measures 0.95 (see
      test_near_dup_lsh_path_above_limit).  A warning is emitted when
      the size router downgrades to approximate semantics.
    * ``exact=True`` — above the broadcast limit, run the exact
      all-pairs expression join instead.  This is O(n²); it exists for
      verification, not production.

    The size check is the only plan selector: a test or a tool reaches
    the large-corpus tiers by setting the class caps to 0.  Every tier
    scores a pair with an all-zero vector 0.0, and an empty corpus
    gives an empty result.
    """

    def __init__(
        self,
        id_field: str = "vec_id",
        vector_field: str = "embedding",
        threshold: float = 0.35,
        exact: bool = False,
        num_bits: int = 8,
        num_tables: int = 6,
        dims: Optional[int] = None,
    ) -> None:
        self.id_field = id_field
        self.vector_field = vector_field
        self.threshold = threshold
        self.exact = exact
        self.num_bits = num_bits
        self.num_tables = num_tables
        self.dims = dims
        super().__init__(input_fields=[id_field, vector_field])

    # corpus matrix broadcast cap (plan-time size estimate)
    BROADCAST_LIMIT_BYTES = 128 << 20
    # fallback cap when the estimate is unknown (local / RDD-backed
    # frames only — never file-backed production inputs)
    BROADCAST_LIMIT_ROWS = 200_000

    def apply(self, df: DataFrame) -> DataFrame:
        if fits(df, self.BROADCAST_LIMIT_ROWS, self.BROADCAST_LIMIT_BYTES):
            return self._apply_broadcast_matrix(df)
        if self.exact:
            return self._apply_pairwise_expr(df)
        import warnings

        warnings.warn(
            "EmbeddingNearDupPairsMapper: corpus exceeds "
            f"BROADCAST_LIMIT_BYTES={self.BROADCAST_LIMIT_BYTES}; "
            f"switching to approximate LSH pairs (num_tables="
            f"{self.num_tables}, num_bits={self.num_bits}) — "
            "pairs colliding in no table are missed. Pass "
            "exact=True for the exact O(n^2) pairs.",
            stacklevel=2,
        )
        return self._apply_lsh_buckets(df)

    def _apply_lsh_buckets(self, df: DataFrame) -> DataFrame:
        """The 100 TB shape: explode each vector into ``num_tables``
        (table, bucket) keys, equi-join bucket-mates, rerank with exact
        cosine, keep pairs above the threshold.  The join is a plain
        hash/sort-merge equi-join on the bucket key — no cartesian
        product anywhere in the plan."""
        from .similarity import exact_cosine_scores, hyperplane_buckets

        dims = vector_dims(df, self.vector_field, self.dims)
        if dims is None:  # empty corpus
            return df.select(
                F.col(self.id_field).alias("id_a"),
                F.col(self.id_field).alias("id_b"),
                F.lit(0.0).alias("sim"),
            ).limit(0)
        vec = F.transform(
            F.col(self.vector_field), lambda x: x.cast("double")
        )
        base = df.select(
            F.col(self.id_field).alias("__id__"),
            vec.alias("__v__"),
            F.posexplode(
                hyperplane_buckets(
                    vec, self.num_tables, self.num_bits, dims
                )
            ).alias("__t__", "__b__"),
        )
        l, r = base.alias("l"), base.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.__t__") == F.col("r.__t__"))
                & (F.col("l.__b__") == F.col("r.__b__"))
                & (F.col("l.__id__") < F.col("r.__id__")),
            )
            .select(
                F.col("l.__id__").alias("id_a"),
                F.col("r.__id__").alias("id_b"),
                F.col("l.__v__").alias("__qv__"),
                F.col("r.__v__").alias("__cv__"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        scored = exact_cosine_scores(cand, id_a="id_a", id_b="id_b")
        return scored.filter(F.col("sim") >= self.threshold)

    def _apply_broadcast_matrix(self, df: DataFrame) -> DataFrame:
        """Broadcast the (small) corpus matrix; each partition computes
        its rows' similarities against it with one BLAS matmul —
        vectorized C, no per-pair expression evaluation.  The join
        disappears entirely."""
        import numpy as np
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        b = broadcast_matrix(df, self.vector_field, self.id_field)
        threshold = self.threshold
        id_field, vector_field = self.id_field, self.vector_field

        schema = StructType(
            [
                StructField("id_a", LongType()),
                StructField("id_b", LongType()),
                StructField("sim", DoubleType()),
            ]
        )

        def run(batches):
            import pandas as pd

            c_ids, c_mat, c_norms = b.value
            for pdf in batches:
                q_ids = pdf[id_field].to_numpy(dtype=np.int64)
                q_mat = np.array(list(pdf[vector_field]), dtype=np.float64)
                if len(q_mat) == 0:
                    yield pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
                    continue
                sims = cosine_block(q_mat, c_mat, c_norms)
                # pair constraint id_a < id_b keeps each pair once
                qi, cj = np.where(
                    (sims >= threshold) & (q_ids[:, None] < c_ids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "id_a": q_ids[qi],
                        "id_b": c_ids[cj],
                        "sim": sims[qi, cj],
                    }
                )

        from ..core.ship import ensure_shipped

        ensure_shipped(df.sparkSession)
        return df.mapInPandas(run, schema=schema)

    def _apply_pairwise_expr(self, df: DataFrame) -> DataFrame:
        """Exact all-pairs expression join — O(n²), reached only via
        ``exact=True`` above the broadcast limit (verification use);
        the default large-corpus path is ``_apply_lsh_buckets``."""
        base = df.select(
            F.col(self.id_field).alias("__id__"),
            F.transform(
                F.col(self.vector_field), lambda x: x.cast("double")
            ).alias("__v__"),
        ).withColumn("__n__", vector_norm(F.col("__v__")))
        l, r = base.alias("l"), base.alias("r")
        sim = guarded_cosine(
            vector_dot(F.col("l.__v__"), F.col("r.__v__")),
            F.col("l.__n__"),
            F.col("r.__n__"),
        )
        return (
            l.join(r, F.col("l.__id__") < F.col("r.__id__"))
            .select(
                F.col("l.__id__").alias("id_a"),
                F.col("r.__id__").alias("id_b"),
                F.round(sim, 6).alias("sim"),
            )
            .filter(F.col("sim") >= self.threshold)
        )


def _verify_candidates_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_field: str,
    words_field: str,
    shingle_size: int,
    threshold: float,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate ``(id_a, id_b)``
    pairs: join each endpoint to its distinct shingle set (narrow
    per-row compute) and evaluate ``|A∩B| / |A∪B|`` JVM-side with
    array algebra.  Cost scales with the CANDIDATE count — the near-dup
    density LSH surfaced — not the corpus; the join duplicates shingle
    sets per pair, which is the standard verify shape (candidates are
    bounded by banding, so the fan-out is the answer size itself)."""
    sets = df.select(
        F.col(id_field).alias("__vid__"),
        # word_shingles already deduplicates (documented contract)
        word_shingles(F.col(words_field), shingle_size).alias("__sh__"),
    )
    a = sets.select(
        F.col("__vid__").alias("id_a"), F.col("__sh__").alias("__sa__")
    )
    b = sets.select(
        F.col("__vid__").alias("id_b"), F.col("__sh__").alias("__sb__")
    )
    inter = F.size(F.array_intersect("__sa__", "__sb__"))
    union = F.size("__sa__") + F.size("__sb__") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def fuzzy_dedup(
    df: DataFrame,
    id_field: str = "doc_id",
    method: str = "minhash",
    *,
    words_field: str = "words",
    text_field: str = "text",
    vector_field: str = "embedding",
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    verify: bool = True,
    simhash_bits: int = 64,
    max_hamming: int = 3,
    n_centroids: "int | str" = "auto",
    max_iterations: int = 30,
    quality_field: Optional[str] = None,
) -> DataFrame:
    """One-call end-to-end fuzzy deduplication: near-dup PAIRS (by the
    chosen ``method``) -> connected components -> the corpus tagged
    with ``cluster_id`` (min doc id of its duplicate cluster) and
    ``is_kept`` (1 exactly for the cluster representative).  Filter
    ``is_kept = 1`` for the deduped corpus; group by ``cluster_id`` to
    inspect duplicate groups.  ``quality_field`` switches the
    representative policy from min-id to highest-quality-member (ties
    and NULLs fall back to min id) — keep the BEST of each near-dup
    cluster, e.g. a model quality score from
    :class:`~smashed_spark.functions.classifier.
    LinearQualityClassifierMapper`; ``cluster_id`` stays the min id
    either way.

    Methods (all built from this module's pair mappers +
    :class:`~smashed_spark.functions.graph.DedupClustersMapper`):

    * ``"minhash"`` — the 100 TB default: narrow MinHash signatures,
      LSH band-bucket candidate join (O(docs × bands)), then — when
      ``verify`` (default) — exact shingle-Jaccard on the candidates
      only, filtered at ``threshold``.  ``verify=False`` clusters the
      raw LSH candidates (recall-oriented, banding-approximate).
    * ``"ngram"`` — exact n-gram Jaccard pairs at ``threshold``
      (join-or-prefix plan picked inside the pair mapper); exact but a
      heavier join — prefer on modest corpora.
    * ``"simhash"`` — Hamming ball ``<= max_hamming`` on
      ``simhash_bits``-bit fingerprints (exact by pigeonhole banding).
      ``threshold`` is unused.
    * ``"embedding"`` — cosine ``>= threshold`` on ``vector_field``
      (broadcast-BLAS / LSH tier auto-selected by the pair mapper).
    * ``"semantic"`` — SemDeDup: cosine ``>= threshold`` evaluated
      within spherical-kmeans cells only
      (:class:`SemanticNearDupPairsMapper` — the O(N²/k) cluster-
      scoped scale path for embedding dedup).

    Text methods read ``words_field``; when it is absent the words are
    derived by whitespace-splitting ``text_field`` (the convention the
    gate corpus uses).  Plan shape: pair generation is the only wide
    stage (banding equi-joins — never a cartesian); clustering is
    O(log n) pointer-jumping rounds on the PAIRS (tiny vs the corpus);
    the final tag is one left join of the cluster map onto the corpus.

    Behavior note (since round 7): ``method="simhash"`` fails fast —
    loudly, at action time, in-plan with zero extra jobs — when any
    band bucket exceeds
    :attr:`SimHashNearDupPairsMapper.DEFAULT_MAX_BAND_OCCUPANCY`
    (20k docs; e.g. >20k byte-identical docs before exact dedup, as in
    raw web batches).  Corpora like that previously ran an
    accepted-quadratic join; run exact dedup first (identical docs
    share every band) or construct the pair mapper directly with a
    higher/disabled ``max_band_occupancy`` to restore the old
    behavior.
    """
    from .graph import DedupClustersMapper

    if method not in (
        "minhash", "ngram", "simhash", "embedding", "semantic"
    ):
        raise ValueError(f"unknown fuzzy_dedup method {method!r}")

    work = df
    if method in ("minhash", "ngram", "simhash") and (
        words_field not in df.columns
    ):
        if text_field not in df.columns:
            raise ValueError(
                f"fuzzy_dedup({method!r}) needs a {words_field!r} array "
                f"column or a {text_field!r} string column to split"
            )
        work = df.withColumn(words_field, F.split(F.col(text_field), " "))

    if method == "minhash":
        signed = MinHashMapper(
            words_field=words_field,
            num_hashes=num_hashes,
            shingle_size=shingle_size,
        ).map(work)
        pairs = MinHashLSHPairsMapper(
            id_field, bands=bands, rows_per_band=rows_per_band
        ).map(signed)
        if verify:
            pairs = _verify_candidates_jaccard(
                pairs, work, id_field, words_field, shingle_size, threshold
            )
    elif method == "ngram":
        pairs = NGramJaccardPairsMapper(
            id_field,
            words_field=words_field,
            shingle_size=shingle_size,
            threshold=threshold,
        ).map(work)
    elif method == "simhash":
        signed = SimHashMapper(
            words_field=words_field, bits=simhash_bits
        ).map(work)
        pairs = SimHashNearDupPairsMapper(
            id_field, bits=simhash_bits, max_hamming=max_hamming
        ).map(signed)
    elif method == "embedding":
        pairs = EmbeddingNearDupPairsMapper(
            id_field=id_field,
            vector_field=vector_field,
            threshold=threshold,
        ).map(work)
    else:  # semantic (SemDeDup): cluster-scoped cosine pairs
        pairs = SemanticNearDupPairsMapper(
            id_field=id_field,
            vector_field=vector_field,
            threshold=threshold,
            n_centroids=n_centroids,
        ).map(work)

    return DedupClustersMapper(
        pairs.select("id_a", "id_b"),
        id_field=id_field,
        max_iterations=max_iterations,
        quality_field=quality_field,
    ).map(df)


def dedup_report(
    tagged: DataFrame,
    tokens_field: Optional[str] = None,
    source_field: Optional[str] = None,
    index_bands: Optional[int] = None,
) -> DataFrame:
    """Audit summary of a :func:`fuzzy_dedup` /
    :class:`~smashed_spark.functions.graph.DedupClustersMapper` result
    (``cluster_id`` + ``is_kept`` columns): document counts, duplicate
    rate, duplicate-cluster count, the largest cluster, and — with
    ``tokens_field`` — how many tokens dedup removed.  The numbers a
    curation run logs per batch.

    ``source_field`` switches to the per-source view a data-recipe
    owner actually asks for — one row per source with doc/token counts
    and that source's dup rate.  Cluster-SHAPE stats
    (``n_dup_clusters``, ``max_cluster_size``) are deliberately absent
    there: a cluster can span sources, so per-source cluster shapes
    are not well defined — run the global (one-row) report for them.

    Both views carry the running-index cost of keeping the survivors
    dedupable forever (the streaming/ingest.py accounting):
    ``index_digest_bytes`` = 32 B per kept doc, and — when
    ``index_bands`` is set to the ingest pipeline's band count —
    ``index_band_bytes`` = 36 B x bands per kept doc; the per-source
    rows report each source's own contribution.

    Scale: ONE groupBy over a slim projection — on ``cluster_id``
    (global; folded into a single-row aggregate whose input is
    map-side-combined partials) or on ``source_field`` (per-source;
    output rows = #sources) — never a collect of per-cluster data.
    """
    tok_aggs = []
    if tokens_field is not None:
        tok_aggs = [
            F.sum(tokens_field).alias("__t__"),
            F.sum(
                F.when(
                    F.col("is_kept") == 1, F.col(tokens_field)
                ).otherwise(F.lit(0))
            ).alias("__tk__"),
        ]

    def _tok_out() -> list:
        if tokens_field is None:
            return []
        return [
            F.col("__t__").alias("tokens_total"),
            F.col("__tk__").alias("tokens_kept"),
            (F.col("__t__") - F.col("__tk__")).alias("tokens_dropped"),
        ]

    if source_field is not None:
        per_src = (
            tagged.select(
                source_field,
                "is_kept",
                *([tokens_field] if tokens_field else []),
            )
            .groupBy(source_field)
            .agg(
                F.count(F.lit(1)).alias("__sz__"),
                F.sum("is_kept").alias("__k__"),
                *tok_aggs,
            )
        )
        idx_cols = [
            (F.col("__k__") * F.lit(32)).alias("index_digest_bytes")
        ]
        if index_bands is not None:
            idx_cols.append(
                (F.col("__k__") * F.lit(36 * int(index_bands))).alias(
                    "index_band_bytes"
                )
            )
        return per_src.select(
            F.col(source_field).alias("source"),
            F.col("__sz__").alias("n_docs"),
            F.col("__k__").alias("n_kept"),
            (F.col("__sz__") - F.col("__k__")).alias("n_dropped"),
            *_tok_out(),
            F.round(
                (F.col("__sz__") - F.col("__k__")) / F.col("__sz__"), 6
            ).alias("dup_rate"),
            *idx_cols,
        ).orderBy("source")

    cols = ["cluster_id", "is_kept"] + (
        [tokens_field] if tokens_field else []
    )
    per = tagged.select(*cols).groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__sz__"),
        F.sum("is_kept").alias("__k__"),
        *tok_aggs,
    )
    out_aggs = [
        F.sum("__sz__").alias("n_docs"),
        F.sum("__k__").alias("n_kept"),
        (F.sum("__sz__") - F.sum("__k__")).alias("n_dropped"),
        F.sum((F.col("__sz__") > 1).cast("bigint")).alias(
            "n_dup_clusters"
        ),
        F.max("__sz__").alias("max_cluster_size"),
    ]
    if tokens_field is not None:
        out_aggs += [
            F.sum("__t__").alias("tokens_total"),
            F.sum("__tk__").alias("tokens_kept"),
            (F.sum("__t__") - F.sum("__tk__")).alias("tokens_dropped"),
        ]
    out = per.agg(*out_aggs).withColumn(
        "dup_rate",
        F.round(F.col("n_dropped") / F.col("n_docs"), 6),
    ).withColumn(
        # the running exact-dedup index cost of these survivors
        # (streaming/ingest.py state model: 32 B md5 digest per doc)
        "index_digest_bytes",
        F.col("n_kept") * F.lit(32),
    )
    if index_bands is not None:
        # minhash band-key index: ~36 B per (band, key) row
        out = out.withColumn(
            "index_band_bytes",
            F.col("n_kept") * F.lit(36 * int(index_bands)),
        )
    return out


class SemanticNearDupPairsMapper(SparkMapper):
    """Semantic near-duplicate pairs à la SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): a spherical-kmeans coarse quantizer partitions
    the embedding corpus into cells, and pairwise cosine similarity is
    evaluated ONLY within each cell — the quadratic term shrinks from
    O(N²) to O(Σ cell²) ≈ O(N²/k), and with ``n_centroids`` grown
    ~N/cell_budget the per-cell work is constant at any corpus size.

    Semantics: emits ``(id_a, id_b, sim)`` for same-cell pairs with
    cosine >= ``threshold`` (``id_a < id_b``, sim rounded to 6dp).
    This is SemDeDup's approximation by construction: cross-cell
    near-dups are not compared (the paper's premise is that semantic
    duplicates share a cluster).  For threshold-exact pairs use
    :class:`EmbeddingNearDupPairsMapper`.

    Plan shape: bounded hash-ordered driver-side fit sample (same
    bit-reproducible convention as ``IVFCosineTopK`` — which is what
    lets the gate's DuckDB oracle replay the fit and embed centroids
    as SQL literals), one Arrow-batched cell assignment, ONE exchange
    on the cell key, then a chunked float64 matmul per cell.
    ``max_cell_size`` fails fast instead of letting a degenerate
    quantizer (all vectors in one cell) run quadratic — the fix is
    more centroids, not a bigger limit.  Worker memory is bounded by
    the cell matrix plus one matmul slab: ``max_cell_size × dims × 8``
    bytes for the unit matrix (50k × 768d ≈ 300 MB) and ``chunk ×
    max_cell_size × 8`` for the similarity block (256 × 50k ≈ 100 MB)
    — sized for a default executor; shrink ``chunk`` first if memory
    is tight, ``max_cell_size`` bounds compute (50k² ≈ 2.5e9
    multiply-adds per full cell).
    """

    def __init__(
        self,
        id_field: str = "vec_id",
        vector_field: str = "embedding",
        threshold: float = 0.8,
        n_centroids: "int | str" = "auto",
        seed: int = 42,
        max_iter: int = 5,
        fit_sample: int = 100_000,
        target_cell_size: int = 5_000,
        max_cell_size: int = 50_000,
        chunk: int = 256,
        centroids: "Optional[Sequence[Sequence[float]]]" = None,
    ) -> None:
        # injected quantizer (fit_ivf_index's [[float]] matrix): skip
        # the fit/auto-sizing entirely — e.g. dedup successive corpus
        # versions within the SAME cell structure so verdicts are
        # comparable across runs
        if centroids is not None:
            if len(centroids) < 1:
                raise ValueError("centroids must be non-empty")
            dims = {len(c) for c in centroids}
            if len(dims) != 1 or 0 in dims:
                raise ValueError(
                    "centroids must be a rectangular non-empty matrix"
                )
        self.centroids = centroids
        if n_centroids != "auto" and (
            not isinstance(n_centroids, int) or n_centroids < 1
        ):
            raise ValueError("n_centroids must be a positive int or 'auto'")
        self.id_field = id_field
        self.vector_field = vector_field
        self.threshold = threshold
        # "auto" (default) grows k with the corpus so the average cell
        # stays ~target_cell_size — SemDeDup's scale knob applied for
        # you: the per-cell quadratic is then CONSTANT at any corpus
        # size (one cheap count job; parquet counts are metadata-only)
        self.n_centroids = n_centroids
        self.target_cell_size = target_cell_size
        self.seed = seed
        self.max_iter = max_iter
        self.fit_sample = fit_sample
        self.max_cell_size = max_cell_size
        self.chunk = chunk
        super().__init__(input_fields=[id_field, vector_field])

    def apply(self, df: DataFrame) -> DataFrame:
        import math

        import numpy as np

        from .similarity import assign_cells, fit_centroids_sampled

        base = df.select(
            F.col(self.id_field).alias("__id__"),
            F.transform(
                F.col(self.vector_field), lambda x: x.cast("double")
            ).alias("__v__"),
        )
        if self.centroids is not None:
            centroids = unit_rows(
                np.asarray(self.centroids, dtype=np.float64)
            )
        else:
            k = self.n_centroids
            if k == "auto":
                n = df.count()
                if n == 0:
                    # empty corpus: empty pair set, not a fit error —
                    # a pipeline stage must compose over empty inputs
                    return df.sparkSession.createDataFrame(
                        [], "id_a bigint, id_b bigint, sim double"
                    )
                k = max(1, math.ceil(n / self.target_cell_size))
            centroids = fit_centroids_sampled(
                base, k, self.seed, self.max_iter, self.fit_sample
            )
        assigned = assign_cells(base, centroids)

        thr = self.threshold
        cap = self.max_cell_size
        chunk = self.chunk

        def cell_pairs(pdf):
            import pandas as _pd

            n = len(pdf)
            if n < 2:
                return _pd.DataFrame(
                    {"id_a": [], "id_b": [], "sim": []}
                ).astype({"id_a": "int64", "id_b": "int64", "sim": "float64"})
            if n > cap:
                raise ValueError(
                    f"SemanticNearDupPairsMapper: cell holds {n} vectors "
                    f"(> max_cell_size={cap}); increase n_centroids so "
                    "cells stay scan-able instead of quadratic"
                )
            # deterministic within-cell order (ids), unit-normalize once
            order = pdf["__id__"].to_numpy().argsort(kind="stable")
            ids = pdf["__id__"].to_numpy()[order]
            mat = np.array(list(pdf["__v__"].iloc[order]), dtype=np.float64)
            unit_rows(mat, out=mat)
            out_a, out_b, out_s = [], [], []
            # chunked upper-triangle matmul, right operand sliced to
            # columns >= chunk start (only j > i is ever read): halves
            # the FLOPs of the dominant quadratic stage, same values
            for s in range(0, n, chunk):
                e = min(s + chunk, n)
                sims = mat[s:e] @ mat[s:].T
                for i in range(s, e):
                    li = i - s
                    row = sims[li, li + 1:]
                    hits = np.nonzero(row >= thr)[0]
                    for j in hits:
                        out_a.append(ids[i])
                        out_b.append(ids[i + 1 + j])
                        out_s.append(round(float(row[j]), 6))
            return _pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "sim": out_s}
            ).astype({"id_a": "int64", "id_b": "int64", "sim": "float64"})

        from ..core.ship import ensure_shipped

        ensure_shipped(df.sparkSession)
        return assigned.groupBy("__cell__").applyInPandas(
            cell_pairs, schema="id_a bigint, id_b bigint, sim double"
        )


def semantic_dedup(
    df: DataFrame,
    id_field: str = "vec_id",
    vector_field: str = "embedding",
    threshold: float = 0.8,
    n_centroids: "int | str" = "auto",
    seed: int = 42,
    max_iterations: int = 30,
    **mapper_kwargs,
) -> DataFrame:
    """One-call SemDeDup: cluster-scoped cosine pairs
    (:class:`SemanticNearDupPairsMapper`) -> connected components ->
    the corpus tagged with ``cluster_id`` / ``is_kept`` (same contract
    as :func:`fuzzy_dedup`; filter ``is_kept = 1`` to keep one
    representative per semantic-duplicate group)."""
    from .graph import DedupClustersMapper

    pairs = SemanticNearDupPairsMapper(
        id_field=id_field,
        vector_field=vector_field,
        threshold=threshold,
        n_centroids=n_centroids,
        seed=seed,
        **mapper_kwargs,
    ).map(df)
    return DedupClustersMapper(
        pairs.select("id_a", "id_b"),
        id_field=id_field,
        max_iterations=max_iterations,
    ).map(df)


def normalize_for_dedup(col: Column) -> Column:
    """Canonical text key for normalization-tolerant exact dedup — the
    CCNet/RefinedWeb convention: lowercase, strip punctuation and
    digits, collapse whitespace runs, trim.  Two documents differing
    only in case/punctuation/spacing dedup together when this feeds
    :class:`ExactDedupMapper`'s digest (``ExactDedupMapper`` on a
    derived ``withColumn("norm_text", normalize_for_dedup(...))``).

    Narrow JVM-side expression (lower + two regexp_replace + trim) —
    scan-speed, and portable to any SQL engine for oracle replay.
    """
    x = F.lower(col)
    # punctuation/digits become SPACES (not ""), so "foo-bar" and
    # "foo bar" canonicalize identically instead of fusing to "foobar"
    x = F.regexp_replace(x, r"[^\p{L}\p{M}\s]", " ")
    x = F.regexp_replace(x, r"\s+", " ")
    return F.trim(x)


def _check_probe_mode(broadcast_probe) -> None:
    # a typo'd "auto"/"false"/"none" must not silently coerce truthy
    # and force an unbounded broadcast
    if broadcast_probe not in (True, False):
        raise ValueError(
            f"broadcast_probe must be True or False; got {broadcast_probe!r}"
        )


def _probe_hits(index: DataFrame, keys: DataFrame) -> DataFrame:
    """The distinct ``index`` rows the batch's ``keys`` hit, hinted for
    broadcast: the batch's distinct keys are broadcast INTO an inner
    probe of the index, so the index crosses the plan as a scan only,
    and the batch-sized hit set is broadcast into the caller's join."""
    return F.broadcast(
        index.join(F.broadcast(keys.distinct()), keys.columns).distinct()
    )


def _join_survivors(
    df: DataFrame, keep_ids: DataFrame, order_by: str
) -> DataFrame:
    """The rows of ``df`` whose ``order_by`` is in ``keep_ids.__id__``."""
    return df.join(
        keep_ids.withColumnRenamed("__id__", order_by), order_by
    ).select(*df.columns)


def dedup_incremental(
    new_df: DataFrame,
    seen_digests: DataFrame,
    text_field: str = "text",
    order_by: str = "doc_id",
    digest_field: str = "digest",
    broadcast_probe: bool = False,
) -> DataFrame:
    """Append-only ingestion dedup: drop rows of ``new_df`` whose text
    digest already exists in ``seen_digests`` (one ``digest`` column —
    the running index a daily pipeline maintains), then dedup the
    batch internally.  Returns the surviving rows; union their digests
    (``with_digests(new_rows)``) into the index for the next batch.

    Scale: a LEFT ANTI join on the digest — broadcast when the index
    fits (Catalyst auto-selects), shuffled hash join otherwise; never
    a rescan of the historical corpus, which is the point: the index
    is ~32 bytes/doc while the corpus is ~100 KB/doc.

    ``broadcast_probe=True`` is the bounded-batch-vs-unbounded-history
    shape (what the streaming ingest picks for a big index): a shuffled
    anti-join would EXCHANGE the full index every batch (~32 GB at 10^9
    docs, forever), because an anti-join can only broadcast its right
    side and the index outgrows that early.  Instead the batch's
    distinct digests (bounded by the trigger) are broadcast INTO an
    inner probe of the index — the index crosses the plan as a SCAN
    ONLY, zero exchange, zero sort — and the batch anti-joins against
    the (batch-sized) hit set, also broadcast.  Same verdicts,
    duplicate-indifferent on both sides; costs one extra evaluation of
    the batch's digest projection (micro-batches are bounded; the
    history side is what must not pay per-batch costs).  Pinned by the
    ingest plan-spy test.

    ``broadcast_probe`` is ``True`` or ``False`` (anything else
    raises, so a typo'd string cannot coerce truthy).  The caller
    picks: the streaming ingest routes by the index's size and one
    bounded batch count (``streaming/ingest.py``), because an
    unbounded backfill "batch" must not be broadcast into executor
    memory — for that regime the plain join's batch+index exchange is
    the correct price.

    Determinism: ``order_by`` NULLs raise in-plan
    (:func:`~smashed_spark.core.order.null_key_guard`); ``order_by``
    ties — identical text by construction, since tied rows share a
    digest (epoch-oversampled mixes feed exactly that) — are pinned
    by an xxhash64 content tiebreak over all (non-map) columns, so
    first-wins is a pure function of the data either way.
    """
    _check_probe_mode(broadcast_probe)
    digest = F.md5(F.col(text_field))
    keyed = new_df.withColumn(digest_field, digest)
    # no .distinct() on the index side: LEFT ANTI is semantically
    # indifferent to duplicate index rows, and at the 100 TB design
    # point a distinct here is a ~32 GB full-index exchange per batch
    # for nothing (the streaming-ingest path reads this index every
    # micro-batch)
    index = seen_digests.select(digest_field)
    if broadcast_probe:
        index = _probe_hits(index, keyed.select(digest_field))
    fresh = keyed.join(index, digest_field, "left_anti")
    # batch-internal dedup: first row (by order_by) per digest within
    # the new batch — row_number()==1 compiles to a WindowGroupLimit
    # (partial per-group limit below the exchange).  Totality of the
    # order (r7 wrong #4): a NULL order key raises IN-PLAN (the guard
    # is the sort key itself, so it evaluates for every row at zero
    # extra cost); ties on order_by are ALLOWED here — tied rows share
    # a digest, i.e. identical text (epoch-oversampled corpora feed
    # exactly that shape on purpose), so the winner is pinned by the
    # xxhash64-over-all-columns content tiebreak (the
    # sinks.shard_for_training convention) and the output stays a pure
    # function of the data.  Contrast dedup_incremental_fuzzy, where a
    # duplicate key merges DISTINCT docs into one decision and
    # therefore raises.
    from pyspark.sql.window import Window

    from .hashing import contains_map_type

    guarded_order = null_key_guard(
        F.col(order_by), order_by, "dedup_incremental",
        f"order_by {order_by!r}",
    )
    # hash every hashable column EXCEPT text/digest: tied rows share a
    # digest, hence identical text — re-hashing ~100 KB of document
    # per row buys nothing.  xxhash64 rejects maps at ANY nesting
    # depth (the check must recurse; a top-level-only filter fails at
    # analysis time on struct<... map ...> schemas).
    hashable = [
        f.name for f in fresh.schema.fields
        if f.name not in (text_field, digest_field)
        and not contains_map_type(f.dataType)
    ]
    content = (
        F.xxhash64(*[F.col(c) for c in hashable])
        if hashable
        else F.lit(0)
    )
    w = Window.partitionBy(digest_field).orderBy(
        guarded_order.asc(), content.asc()
    )
    return (
        fresh.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def with_digests(df: DataFrame, text_field: str = "text", digest_field: str = "digest") -> DataFrame:
    """The digest projection to append to a running dedup index —
    reuses an existing ``digest_field`` column (dedup_incremental's
    output carries one) instead of re-hashing ~100 KB of text per
    surviving document."""
    if digest_field in df.columns:
        return df.select(digest_field)
    return df.select(F.md5(F.col(text_field)).alias(digest_field))


def with_minhash_bands(
    df: DataFrame,
    words_field: str = "words",
    signature_field: str = "minhash",
    num_hashes: int = 16,
    shingle_size: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """The ``(band, key)`` projection to append to a running
    FUZZY-dedup index — the near-dup analog of :func:`with_digests`:
    ~``bands`` x 36 bytes per document while the corpus is ~100 KB per
    document, which is what makes never-rescan ingestion dedup
    possible.  Reuses an existing ``signature_field`` column when
    present (:func:`dedup_incremental_fuzzy`'s survivors carry one)
    instead of re-shingling the text."""
    if signature_field not in df.columns:
        df = MinHashMapper(
            words_field,
            signature_field,
            num_hashes=num_hashes,
            shingle_size=shingle_size,
            hash_fn=hash_fn,
        ).map(df)
    from .hashing import band_keys

    return (
        df.select(
            F.explode(
                band_keys(
                    F.col(signature_field), bands, rows_per_band
                )
            ).alias("__bk__")
        )
        .select(
            F.col("__bk__.band").alias("band"),
            F.col("__bk__.key").alias("key"),
        )
        .distinct()
    )


def dedup_incremental_fuzzy(
    new_df: DataFrame,
    seen_bands: DataFrame,
    words_field: str = "words",
    order_by: str = "doc_id",
    signature_field: str = "minhash",
    num_hashes: int = 16,
    shingle_size: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    hash_fn: str = "md5",
    verify_threshold: Optional[float] = None,
    broadcast_probe: bool = False,
) -> DataFrame:
    """Append-only ingestion NEAR-dedup: drop rows of ``new_df`` whose
    MinHash band keys collide with the running ``seen_bands`` index
    (``(band, key)`` — maintain it with :func:`with_minhash_bands`),
    then greedily near-dedup the batch internally.  The fuzzy analog
    of :func:`dedup_incremental`: a daily pipeline runs both — exact
    digests catch byte-identical reposts, band keys catch the
    near-identical ones — and never rescans the historical corpus.

    Semantics (documented contracts, both replayable in SQL):

    * **History**: a new doc is dropped iff ANY of its ``bands`` band
      keys exists in the index — the standard LSH candidate decision
      applied as a verdict.  With ``bands`` bands of ``rows_per_band``
      rows, a doc at Jaccard ``s`` to some indexed doc collides with
      probability ``1 - (1 - s^rows_per_band)^bands`` (the S-curve);
      there is no second-stage verification because the index stores
      36-byte band keys, not documents — choose ``rows_per_band`` for
      the precision the pipeline needs.
    * **Batch-internal**: greedy first-wins banding — a doc survives
      iff it is the earliest (by ``order_by``) in EVERY band bucket it
      occupies, among batch docs not already dropped by the history
      check.  A later doc colliding only with an already-dropped doc
      is still dropped (its bucket's min is the dropped doc): the
      conservative over-drop direction, same convention as keep-first
      span removal.  Deterministic: a pure function of the data, no
      partition-order dependence.  ``order_by`` must be a unique
      non-NULL key (duplicates would merge two docs into one decision
      and fan the survivors join out) — enforced IN-PLAN: each doc
      explodes into exactly ``bands`` band rows, so a PRE-join per-id
      row count not equaling ``bands`` is a loud ``raise_error``.
      Counting before the indicator join is what makes the decision
      duplicate-tolerant on the INDEX side (duplicate ``(band, key)``
      index rows — e.g. from a crashed ingest compaction — fan the
      join without changing any verdict or tripping the guard) while
      still catching every duplicate ``order_by``, byte-identical
      documents included.
    * **Opt-in in-batch verification** (``verify_threshold``): history
      drops cannot verify (the index stores 36-byte band keys, not
      documents), but batch-internal collisions have BOTH documents in
      hand — with ``verify_threshold`` set, a batch-internal band
      collision only drops the later doc if exact shingle-Jaccard
      against the colliding bucket's earliest doc reaches the
      threshold, cutting LSH false-positive real-doc loss.  The
      verify JOIN cost scales with the CANDIDATE count (only
      colliding pairs), though deriving the two shingle-set sides
      adds two more narrow scans of the batch — cache upstream if the
      batch plan is expensive.  Requires ``words_field`` on
      ``new_df``.

    Scale: the signature/band compute is narrow, and the whole
    decision runs as ONE LINEAR pipeline over the slim ``(id, band,
    key)`` projection — an indicator LEFT join against the compact
    index (broadcast when it fits — Catalyst auto-selects), a per-doc
    hit window, a per-bucket min window, one id aggregation — so the
    (possibly expensive) upstream plan is evaluated exactly twice:
    once feeding the slim decision pipeline and once in the final
    survivors join.  (A semi/anti-join formulation reads better but
    fans the un-cached upstream DAG into four branches — four full
    recomputations of the input chain; measured 6x slower on the
    sample_mix gate chain.)  Nothing touches the historical corpus.

    ``broadcast_probe=True`` is the bounded-batch-vs-unbounded-history
    shape (what the streaming ingest picks for a big index): once the
    band index outgrows the auto-broadcast limit, the indicator LEFT
    join would EXCHANGE the full index every batch (~144 GB of band keys
    at 10^9 docs, forever).  Instead the batch's distinct
    ``(band, key)`` set (bounded by the trigger) is broadcast INTO an
    inner probe of the index — the index crosses the plan as a SCAN
    ONLY — and the indicator joins against the (batch-sized, distinct)
    hit-key set, also broadcast, which keeps the indicator join itself
    a broadcast join on the batch side.  Same verdicts; costs one extra
    evaluation of the slim band projection (three upstream evaluations
    total).

    ``broadcast_probe`` takes only ``True`` or ``False``; the streaming
    ingest routes it (each doc contributes ``bands`` probe keys, so an
    unbounded backfill batch runs the plain indicator join instead).

    Survivors keep their ``signature_field`` column so
    ``with_minhash_bands(survivors)`` extends the index without
    re-shingling.
    """
    _check_probe_mode(broadcast_probe)
    if signature_field not in new_df.columns:
        keyed = MinHashMapper(
            words_field,
            signature_field,
            num_hashes=num_hashes,
            shingle_size=shingle_size,
            hash_fn=hash_fn,
        ).map(new_df)
    else:
        keyed = new_df
    from .hashing import band_keys

    null_guard = null_key_guard(
        F.col(order_by), order_by, "dedup_incremental_fuzzy",
        f"order_by {order_by!r}",
    )
    from pyspark.sql.window import Window

    doc_bands = keyed.select(
        null_guard.alias("__id__"),
        F.explode(
            band_keys(F.col(signature_field), bands, rows_per_band)
        ).alias("__bk__"),
    ).select(
        "__id__",
        F.col("__bk__.band").alias("band"),
        F.col("__bk__.key").alias("key"),
    )
    # the uniqueness guard's count runs PRE-join (each doc explodes
    # into exactly `bands` rows, so >bands rows per id == duplicate
    # order keys — byte-identical docs included): counting post-join
    # rows would break under duplicate INDEX rows (they fan the join),
    # and counting post-join distinct slots would go blind on
    # byte-identical duplicate ids (identical band keys collapse).  It
    # rides the ``__ok__`` marker, which the verdict filters below
    # carry, so the verify path's candidate branch prunes it.
    # Cost: the per-id exchange this window needs is the same one the
    # post-join per-id verdict window needs — a broadcast index join
    # (small index via Catalyst, or any index via broadcast_probe)
    # preserves the partitioning between them, so no extra exchange on
    # those paths.  Only plain mode over an above-broadcast-limit
    # index pays one extra exchange — the regime broadcast_probe
    # exists for.
    doc_bands = doc_bands.withColumn(
        "__ok__",
        unique_key_guard(
            F.lit(True), "__id__", "dedup_incremental_fuzzy",
            f"order_by {order_by!r}", expected=bands,
        ),
    )
    # no .distinct() on the index side: at the 100 TB design point
    # that is a ~144 GB full-band-index exchange per ingestion batch.
    # Duplicate (band, key) index rows — the shape a crashed ingest
    # compaction legitimately leaves behind — are instead harmless by
    # construction: every post-join aggregate is duplicate-TOLERANT
    # (a dup fans the left join out, but __dochit__ (max), __min__
    # (min) and __later__ (max of a per-row predicate) are idempotent
    # under row duplication, and the guard counted before the join).
    index = seen_bands.select("band", "key")
    if broadcast_probe:
        index = _probe_hits(index, doc_bands.select("band", "key"))
    marked = doc_bands.join(
        index.withColumn("__hit__", F.lit(1)), ["band", "key"], "left"
    ).withColumn("__hit__", F.coalesce(F.col("__hit__"), F.lit(0)))
    # per-doc history verdict first, THEN per-bucket first-wins min
    # over the docs history didn't already claim
    per_id = Window.partitionBy("__id__")
    flagged = marked.withColumn(
        "__dochit__", F.max("__hit__").over(per_id)
    ).withColumn(
        "__min__",
        F.min(
            F.when(F.col("__dochit__") == 0, F.col("__id__"))
        ).over(Window.partitionBy("band", "key")),
    )
    agg = flagged.groupBy("__id__").agg(
        F.max("__dochit__").alias("__h__"),
        F.max(
            (F.col("__id__") > F.col("__min__")).cast("int")
        ).alias("__later__"),
        F.min("__ok__").alias("__ok__"),
    )

    if verify_threshold is None:
        keep_ids = agg.filter(
            F.col("__ok__") & (F.col("__h__") == 0) & (F.col("__later__") == 0)
        ).select("__id__")
    else:
        if words_field not in keyed.columns:
            raise ValueError(
                "dedup_incremental_fuzzy: verify_threshold needs "
                f"words_field {words_field!r} on new_df to compute "
                "exact shingle-Jaccard"
            )
        # candidate pairs: (bucket's earliest history-free doc, later
        # doc) per colliding band bucket — exactly the collisions the
        # greedy pass would drop on.  Verify with real Jaccard; only
        # confirmed pairs drop.
        hit_free = agg.filter(F.col("__ok__") & (F.col("__h__") == 0)).select(
            "__id__"
        )
        cand = (
            flagged.filter(
                (F.col("__dochit__") == 0)
                & F.col("__min__").isNotNull()
                & (F.col("__id__") > F.col("__min__"))
            )
            .select(
                F.col("__min__").alias("id_a"),
                F.col("__id__").alias("id_b"),
            )
            .distinct()
        )
        confirmed = _verify_candidates_jaccard(
            cand,
            keyed,
            order_by,
            words_field,
            shingle_size,
            verify_threshold,
        )
        dropped = confirmed.select(
            F.col("id_b").alias("__id__")
        ).distinct()
        keep_ids = hit_free.join(dropped, "__id__", "left_anti")
    return _join_survivors(keyed, keep_ids, order_by)


def with_semantic_cells(
    df: DataFrame,
    centroids,
    vector_field: str = "embedding",
) -> DataFrame:
    """The ``(cell, vector)`` projection to append to a running
    SEMANTIC-dedup index — the embedding analog of
    :func:`with_digests` / :func:`with_minhash_bands`: ~``8 x dims``
    bytes per document (64-dim: 512 B/doc, ~200x smaller than a
    100 KB document).  Vectors are stored UNIT-NORMALIZED so the
    per-batch scoring never re-normalizes history, and cells come from
    the SAME injected quantizer every batch (fit once with
    :func:`~smashed_spark.functions.similarity.fit_ivf_index`,
    persist, inject — re-fitting per batch would silently shift cell
    boundaries and make verdicts incomparable across batches).

    Write it ``partitionBy("cell")`` (the
    :func:`dedup_incremental_semantic` docstring's state layout): the
    per-batch read filters to the batch's touched cells, and a
    cell-partitioned layout turns that filter into partition pruning —
    the untouched history is never even listed.
    """
    import numpy as np

    from .similarity import assign_cells

    cents = unit_rows(np.asarray(centroids, dtype=np.float64))
    base = df.select(
        F.transform(
            F.col(vector_field), lambda x: x.cast("double")
        ).alias("__v__")
    ).withColumn("__id__", F.lit(0))
    assigned = assign_cells(base, cents)
    # unit-normalize JVM-side: v / sqrt(dot(v, v)), zero-norm kept as
    # all-zero (cosine 0.0 to everything downstream)
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("__v__", "__v__", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    unit = F.when(
        norm > 0,
        F.transform("__v__", lambda x: x / norm),
    ).otherwise(F.col("__v__"))
    return assigned.select(
        F.col("__cell__").alias("cell"), unit.alias("vector")
    )


def dedup_incremental_semantic(
    new_df: DataFrame,
    seen_cells: DataFrame,
    centroids,
    vector_field: str = "embedding",
    order_by: str = "vec_id",
    threshold: float = 0.8,
    max_cell_size: int = 50_000,
    chunk: int = 256,
) -> DataFrame:
    """Append-only ingestion SEMANTIC dedup — the embedding analog of
    :func:`dedup_incremental` (exact) and
    :func:`dedup_incremental_fuzzy` (MinHash): drop rows of ``new_df``
    whose embedding has cosine >= ``threshold`` to any indexed vector
    in the SAME quantizer cell (``seen_cells``: ``(cell, vector)`` —
    maintain it with :func:`with_semantic_cells`), then greedily
    dedup the batch internally within cells.  Completes the dedup
    matrix: exact / fuzzy / semantic, each in batch AND incremental
    form, sharing one state discipline (slim per-doc index rows,
    never a rescan of history).

    Semantics (SemDeDup's approximation by construction, same as
    :class:`SemanticNearDupPairsMapper`): only same-cell pairs are
    compared — the quantizer is INJECTED (``fit_ivf_index`` once per
    corpus version), because a per-batch re-fit would shift cell
    boundaries and change verdicts retroactively.  Batch-internal
    dedup is greedy first-wins by ``order_by`` with the conservative
    over-drop convention shared with the fuzzy path: a later doc
    similar to an EARLIER batch doc is dropped even if that earlier
    doc was itself dropped.  ``order_by`` must be unique and non-NULL
    (NULLs raise in-plan; duplicates raise via a count window on the
    batch-sized keep flags before the survivors join — a duplicate
    would merge two docs into one decision and fan the join).

    Scale: the batch's cell assignment is one Arrow stage; the
    history side is filtered to the batch's TOUCHED cells (at most
    ``len(centroids)`` values, collected driver-side — one bounded
    extra evaluation of the slim batch projection) — store the index
    ``partitionBy("cell")`` and that filter becomes partition
    pruning, so untouched history is never read, let alone shuffled.
    ONE exchange on the cell key feeds a per-cell chunked float64
    matmul (batch rows x (history + batch) rows — cost is
    O(batch x cell occupancy), not O(history)); ``max_cell_size``
    fails fast on a degenerate quantizer exactly like
    ``SemanticNearDupPairsMapper``.  Survivors extend the index via
    ``with_semantic_cells(survivors)`` with zero re-scoring.
    """
    import numpy as np

    from ..core.ship import ensure_shipped
    from .similarity import assign_cells

    mat = np.asarray(centroids, dtype=np.float64)
    if mat.ndim != 2 or mat.shape[0] < 1 or mat.shape[1] < 1:
        raise ValueError(
            "centroids must be a non-empty rectangular matrix — fit "
            "one with fit_ivf_index and persist it"
        )
    cents = unit_rows(mat)
    base = new_df.select(
        null_key_guard(
            F.col(order_by), order_by, "dedup_incremental_semantic",
            f"order_by {order_by!r}",
        ).alias("__id__"),
        F.transform(
            F.col(vector_field), lambda x: x.cast("double")
        ).alias("__v__"),
    )
    assigned = assign_cells(base, cents)
    # touched cells: bounded by len(centroids) — the collect is what
    # turns the history read into an isin partition-pruning filter
    touched = [
        r["__cell__"]
        for r in assigned.select("__cell__").distinct().collect()
    ]
    if not touched:
        return new_df  # empty batch
    hist = (
        seen_cells.filter(F.col("cell").isin(touched))
        .select(
            F.col("cell").alias("__cell__"),
            F.col("vector").alias("__v__"),
        )
        .withColumn("__id__", F.lit(None).cast(
            assigned.schema["__id__"].dataType
        ))
        .withColumn("__h__", F.lit(1))
    )
    both = assigned.select(
        "__cell__", "__v__", "__id__"
    ).withColumn("__h__", F.lit(0)).unionByName(hist)

    thr = float(threshold)
    cap = int(max_cell_size)
    chk = int(chunk)

    def cell_verdicts(pdf):
        import pandas as _pd

        n = len(pdf)
        if n > cap:
            raise ValueError(
                f"dedup_incremental_semantic: cell holds {n} vectors "
                f"(> max_cell_size={cap}); refit the quantizer with "
                "more centroids so cells stay scan-able"
            )
        bmask = pdf["__h__"].to_numpy() == 0
        bat = pdf[bmask]
        if len(bat) == 0:
            return _pd.DataFrame({"__id__": [], "__keep__": []}).astype(
                {"__keep__": "int32"}
            )
        order = bat["__id__"].to_numpy().argsort(kind="stable")
        ids = bat["__id__"].to_numpy()[order]
        bm = np.array(list(bat["__v__"].iloc[order]), dtype=np.float64)
        unit_rows(bm, out=bm)
        hp = pdf[~bmask]
        hm = (
            np.array(list(hp["__v__"]), dtype=np.float64)
            if len(hp)
            else np.zeros((0, bm.shape[1]))
        )
        if len(hm):
            # stored unit-normalized, but re-normalizing is idempotent
            # and guards hand-built indexes
            unit_rows(hm, out=hm)
        nb = len(bm)
        keep = np.ones(nb, dtype=bool)
        for s in range(0, nb, chk):
            e = min(s + chk, nb)
            if len(hm):
                hs = bm[s:e] @ hm.T
                keep[s:e] &= hs.max(axis=1) < thr
            # batch-internal: similar to ANY earlier batch row
            # (conservative over-drop, the fuzzy convention)
            bs = bm[s:e] @ bm[:e].T
            for i in range(s, e):
                if i > 0 and bs[i - s, :i].max() >= thr:
                    keep[i] = False
        return _pd.DataFrame(
            {"__id__": ids, "__keep__": keep.astype("int32")}
        )

    ensure_shipped(new_df.sparkSession)
    id_type = assigned.schema["__id__"].dataType.simpleString()
    flags = both.groupBy("__cell__").applyInPandas(
        cell_verdicts, schema=f"__id__ {id_type}, __keep__ int"
    )
    # duplicate order keys fan the survivors join: raise via a count
    # window over the BATCH-SIZED flags (cross-cell duplicates are
    # visible here where the per-cell UDF cannot see them)
    flags = flags.withColumn(
        "__keep__",
        unique_key_guard(
            F.col("__keep__"), "__id__", "dedup_incremental_semantic",
            f"order_by {order_by!r}",
        ),
    )
    keep_ids = flags.filter(F.col("__keep__") == 1).select("__id__")
    return _join_survivors(new_df, keep_ids, order_by)
