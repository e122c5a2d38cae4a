"""Text-analysis operators: language ID, quality scoring, token
counting, fingerprinting.  All pure Column expressions — JVM-side,
narrow, zero shuffle — so they run at scan speed over 100 TB.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.mapper import SparkMapper
from ..core.sizing import fits
from .hashing import broadcast_matrix, cosine_block

# Minimal high-frequency stopword markers per language.  An n-gram /
# stopword-count heuristic (the classic "stopword profiling" approach
# to language ID); counts of ' <word> ' occurrences are portable to any
# SQL engine via the length-difference trick.
DEFAULT_LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "de", "que"],
    "fr": ["le", "la", "et", "les"],
    "de": ["der", "die", "und", "das"],
}

DEFAULT_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that".split()
)


def occurrences(text: Column, needle: str) -> Column:
    """Number of occurrences of ``needle`` via the length-difference
    trick (portable: only length/replace)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


class LangIdMapper(SparkMapper):
    """Heuristic language ID: per language, count marker-stopword hits
    (padded with spaces so only whole words match); argmax wins, ties
    and zero scores fall back to ``'und'``."""

    def __init__(
        self,
        text_field: str = "text",
        output_field: str = "lang_pred",
        markers: Optional[Dict[str, List[str]]] = None,
    ) -> None:
        self.text_field = text_field
        self.output_field = output_field
        self.markers = {k: list(v) for k, v in (markers or DEFAULT_LANG_MARKERS).items()}
        super().__init__(input_fields=[text_field], output_fields=[output_field])

    def apply(self, df: DataFrame) -> DataFrame:
        padded = F.concat(F.lit(" "), F.col(self.text_field), F.lit(" "))
        scores = []
        for lang in sorted(self.markers):
            score = F.lit(0).cast("bigint")
            for w in self.markers[lang]:
                score = score + occurrences(padded, f" {w} ")
            scores.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
        # argmax by (score, then reverse-alphabetical so ties pick the
        # earliest language deterministically after the greatest())
        best = F.greatest(*scores) if len(scores) > 1 else scores[0]
        pred = F.when(best.getField("s") > 0, best.getField("l")).otherwise(
            F.lit("und")
        )
        return df.withColumn(self.output_field, pred)


class QualityScoreMapper(SparkMapper):
    """Heuristic document-quality features (the usual corpus-curation
    signals: length, mean word length, alpha/punct ratios, stopword
    ratio) plus a composite 0-1 score."""

    def __init__(
        self,
        text_field: str = "text",
        stopwords: Optional[Sequence[str]] = None,
        prefix: str = "q",
    ) -> None:
        self.text_field = text_field
        self.stopwords = list(stopwords or DEFAULT_STOPWORDS)
        self.prefix = prefix
        super().__init__(input_fields=[text_field])

    def apply(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_field)
        p = self.prefix
        words = F.split(text, r"\s+")
        n_chars = F.length(text)
        n_words = F.size(words)
        mean_word_len = F.round(
            (n_chars - n_words + 1).cast("double") / n_words, 6
        )
        non_alpha = F.length(F.regexp_replace(text, r"[A-Za-z\s]", ""))
        non_alpha_ratio = F.round(non_alpha.cast("double") / n_chars, 6)
        padded = F.concat(F.lit(" "), text, F.lit(" "))
        stop_hits = F.lit(0).cast("bigint")
        for w in self.stopwords:
            stop_hits = stop_hits + occurrences(padded, f" {w} ")
        stop_ratio = F.round(stop_hits.cast("double") / n_words, 6)
        score = F.round(
            F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
            + (F.lit(1.0) - F.least(non_alpha_ratio * 5, F.lit(1.0))) * 0.3
            + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3,
            6,
        )
        return df.withColumns(
            {
                f"{p}_n_chars": n_chars.cast("bigint"),
                f"{p}_n_words": n_words.cast("bigint"),
                f"{p}_mean_word_len": mean_word_len,
                f"{p}_non_alpha_ratio": non_alpha_ratio,
                f"{p}_stopword_ratio": stop_ratio,
                f"{p}_score": score,
            }
        )


class TokenCountMapper(SparkMapper):
    """Token counts: whitespace tokens and a BPE-ish segment count
    (word chunks of <=4 chars + punctuation runs — the usual cheap
    proxy for subword token counts)."""

    BPE_PATTERN = r"[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]"

    def __init__(
        self,
        text_field: str = "text",
        ws_field: str = "n_ws_tokens",
        bpe_field: str = "n_bpe_tokens",
    ) -> None:
        self.text_field = text_field
        self.ws_field = ws_field
        self.bpe_field = bpe_field
        super().__init__(
            input_fields=[text_field], output_fields=[ws_field, bpe_field]
        )

    def apply(self, df: DataFrame) -> DataFrame:
        text = F.col(self.text_field)
        ws = F.size(
            F.filter(F.split(text, r"\s+"), lambda t: t != "")
        ).cast("bigint")
        bpe = F.size(
            F.regexp_extract_all(text, F.lit(self.BPE_PATTERN), 0)
        ).cast("bigint")
        return df.withColumns(
            {self.ws_field: ws, self.bpe_field: bpe}
        )


class FingerprintMapper(SparkMapper):
    """Document fingerprints: a normalization-invariant content digest
    (lowercase, collapse whitespace, md5) plus a winnowing-style
    min-hash of character k-grams (the rolling-hash document sketch)."""

    def __init__(
        self,
        text_field: str = "text",
        digest_field: str = "fingerprint",
        sketch_field: Optional[str] = "min_kgram_hash",
        k: int = 8,
        hash_fn: str = "xxhash64",
    ) -> None:
        if hash_fn not in ("xxhash64", "md5"):
            raise ValueError("hash_fn must be 'xxhash64' or 'md5'")
        self.text_field = text_field
        self.digest_field = digest_field
        self.sketch_field = sketch_field
        self.k = k
        # per-gram hash for the winnowing sketch: one hash PER CHAR
        # POSITION, so the function choice is the stage's whole cost.
        # xxhash64 (default) measures ~40% faster than the md5->hex->
        # conv chain at sf0.1; "md5" exists for engine-portable oracle
        # parity (same design as substring.py's hash_fn)
        self.hash_fn = hash_fn
        super().__init__(input_fields=[text_field], output_fields=[digest_field])

    def apply(self, df: DataFrame) -> DataFrame:
        from .hashing import portable_hash32

        # project the normalized text ONCE: referencing the expression
        # inside the per-gram transform lambda would re-run the
        # regexp_replace chain for every k-gram (no CSE into lambdas)
        normed = df.withColumn(
            "__norm__",
            F.lower(
                F.trim(
                    F.regexp_replace(F.col(self.text_field), r"\s+", " ")
                )
            ),
        )
        norm = F.col("__norm__")
        out = {self.digest_field: F.md5(norm)}
        if self.sketch_field:
            n = F.length(norm) - F.lit(self.k - 1)
            starts = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
                F.array().cast("array<integer>")
            )
            # k-gram hashes via substr on the normalized text
            if self.hash_fn == "xxhash64":
                hasher = F.xxhash64
            else:
                hasher = portable_hash32
            gram_hashes = F.transform(
                starts,
                lambda i: hasher(norm.substr(i, F.lit(self.k))),
            )
            out[self.sketch_field] = F.coalesce(
                F.array_min(gram_hashes), F.lit(None).cast("bigint")
            )
        return normed.withColumns(out).drop("__norm__")


class RepetitionStatsMapper(SparkMapper):
    """Gopher-style repetition quality signals (Rae et al. 2021,
    app. A1.1): heavily self-repetitive documents are low-value LM
    training data, and repetition fractions are the standard filter.

    Emits per document (prefix ``rep_``):

    * ``dup_word_frac`` — 1 - distinct/total words: pure array algebra
      on the row, narrow, scan-speed.
    * ``n_2grams`` / ``dup_2gram_frac`` / ``top_2gram_count`` — word
      2-gram totals, the fraction of 2-gram occurrences whose gram
      appears more than once, and the modal 2-gram count.  Per-row
      top-frequency needs a frequency map, so this is computed as
      explode -> hash-agg on (id, gram) -> per-id agg: linear,
      map-side partial-agg friendly, and the doc id in the grouping
      key means no hub skew at any corpus size; one equi-join on the
      id re-attaches the stats.

    ``id_field`` must be unique per document (it keys the join back).
    """

    def __init__(
        self,
        id_field: str = "doc_id",
        text_field: str = "text",
        prefix: str = "rep_",
    ) -> None:
        self.id_field = id_field
        self.text_field = text_field
        self.prefix = prefix
        super().__init__(
            input_fields=[id_field, text_field],
            output_fields=[
                prefix + c
                for c in (
                    "dup_word_frac",
                    "n_2grams",
                    "dup_2gram_frac",
                    "top_2gram_count",
                )
            ],
        )

    def apply(self, df: DataFrame) -> DataFrame:
        p = self.prefix
        words = F.split(F.col(self.text_field), " ")
        nw = F.size(words)
        ndw = F.size(F.array_distinct(words))
        dup_word = F.when(
            nw > 0, F.round((nw - ndw) / nw.cast("double"), 6)
        ).otherwise(F.lit(0.0))
        grams = F.when(
            nw >= 2,
            F.zip_with(
                F.slice(words, F.lit(1), nw - 1),
                F.slice(words, F.lit(2), nw - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        gram_rows = df.select(
            F.col(self.id_field).alias("__id__"),
            F.explode(grams).alias("__g__"),
        )
        per_doc = (
            gram_rows.groupBy("__id__", "__g__")
            .agg(F.count("*").alias("__c__"))
            .groupBy("__id__")
            .agg(
                F.sum("__c__").alias(p + "n_2grams"),
                F.sum(
                    F.when(F.col("__c__") > 1, F.col("__c__")).otherwise(0)
                ).alias("__dup__"),
                F.max("__c__").alias(p + "top_2gram_count"),
            )
            .withColumn(
                p + "dup_2gram_frac",
                F.round(
                    F.col("__dup__")
                    / F.col(p + "n_2grams").cast("double"),
                    6,
                ),
            )
            .drop("__dup__")
        )
        out = df.withColumn(p + "dup_word_frac", dup_word).join(
            per_doc.withColumnRenamed("__id__", self.id_field),
            self.id_field,
            "left",
        )
        # docs with < 2 words produce no gram rows: zero-fill
        return out.withColumns(
            {
                p + "n_2grams": F.coalesce(p + "n_2grams", F.lit(0)),
                p + "dup_2gram_frac": F.coalesce(
                    p + "dup_2gram_frac", F.lit(0.0)
                ),
                p + "top_2gram_count": F.coalesce(
                    p + "top_2gram_count", F.lit(0)
                ),
            }
        )


class CompressionRatioMapper(SparkMapper):
    """zlib compression ratio of the text — ``len(compress(utf8)) /
    len(utf8)`` — the MassiveText/RefinedWeb-style repetitiveness
    signal: template farms and boilerplate compress far below natural
    prose, so a low ratio flags machine-generated or duplicated
    content that word-level repetition stats can miss (repetition at
    phrase/paragraph granularity).

    This is a legitimate Python-tier operator: no Catalyst expression
    computes DEFLATE, so the mapper runs one Arrow-batched pandas UDF
    (zlib is stdlib C — one call per doc, no per-row Python
    arithmetic).  The plan stays narrow: the UDF rides the scan, zero
    exchanges (plan-pinned in tests/test_web_compression.py).  NULL and
    empty text yield NULL (an empty doc has no meaningful ratio —
    zlib's 8-byte header would read as ratio 8.0 and pollute
    low-ratio filters).

    ``level`` is zlib's compression level (1-9; default 6).  The
    ratio can exceed 1.0 on short or incompressible text — consumers
    should gate on doc length (the Gopher word-count bounds) before
    thresholding.
    """

    def __init__(
        self,
        text_field: str = "text",
        ratio_field: str = "compression_ratio",
        level: int = 6,
    ) -> None:
        if not 1 <= level <= 9:
            raise ValueError(f"zlib level must be in 1..9, got {level}")
        self.text_field = text_field
        self.ratio_field = ratio_field
        self.level = level
        super().__init__(
            input_fields=[text_field], output_fields=[ratio_field]
        )

    def apply(self, df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        level = self.level

        def _ratio_fn(texts):
            import zlib

            def one(t):
                if t is None or t == "":
                    return None
                raw = t.encode("utf-8")
                return len(zlib.compress(raw, level)) / len(raw)

            return texts.map(one)

        # the module's `from __future__ import annotations` stringifies
        # literal hints, which pandas_udf's signature inference can't
        # resolve — assign real objects instead
        _ratio_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        _ratio = pandas_udf(_ratio_fn, "double")
        return df.withColumn(self.ratio_field, _ratio(F.col(self.text_field)))


class PiiRedactMapper(SparkMapper):
    """Redact common PII patterns (emails, phone numbers, IPv4
    addresses) from a text column and count what was removed — the
    standard scrub step before training-data release.

    Pure ``regexp_replace``/``regexp_count`` column expressions:
    JVM-side, scan-speed, no Python.  Patterns are deliberately simple
    RE2-compatible classes (no lookbehind) so external engines
    (and the DuckDB oracle) agree on matches.
    """

    #: (name, pattern, replacement) — applied in order.  ipv4 runs
    #: BEFORE phone: the phone separator class includes '.', so a
    #: dot-separated IP whose third octet has 3 digits (192.168.100.7)
    #: would otherwise be half-eaten by the phone pattern, leaving
    #: '<PHONE>.7' residue.  Each pattern is also *counted* on the text
    #: as it exists when that pattern is applied (see ``apply``), so
    #: the n_pii_* counts always equal the number of replacements made.
    PATTERNS = (
        ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
        ("phone", r"\+?\d{1,3}[-. ]\d{3}[-. ]\d{3,4}(?:[-. ]\d{3,4})?", "<PHONE>"),
    )

    def __init__(
        self,
        text_field: str = "text",
        output_field: Optional[str] = None,
        count_prefix: Optional[str] = "n_pii",
    ) -> None:
        self.text_field = text_field
        self.output_field = output_field or text_field
        self.count_prefix = count_prefix
        super().__init__(
            input_fields=[text_field], output_fields=[self.output_field]
        )

    def apply(self, df: DataFrame) -> DataFrame:
        # count-then-replace per pattern, on the progressively redacted
        # text: counts correspond 1:1 to replacements even when
        # patterns could overlap (e.g. phone vs dotted IPs)
        red = F.col(self.text_field)
        out = {}
        for name, pat, repl in self.PATTERNS:
            if self.count_prefix:
                out[f"{self.count_prefix}_{name}"] = F.regexp_count(
                    red, F.lit(pat)
                ).cast("bigint")
            red = F.regexp_replace(red, pat, repl)
        out[self.output_field] = red
        return df.withColumns(out)


class DecontaminateMapper(SparkMapper):
    """Train/test decontamination: count n-gram (shingle) overlap of
    each document against a benchmark corpus and flag (or drop)
    contaminated documents — the GPT-3-style eval-leakage scrub.

    Scale shape: benchmark suites are tiny next to a 100 TB corpus, so
    the benchmark's distinct shingles BROADCAST by default; the corpus
    side is one narrow explode + broadcast-hash semi-join — the corpus
    itself never shuffles.  Only the matched (doc, shingle) rows —
    bounded by |benchmark shingles| x docs sharing them — reach the
    per-doc overlap count, and in ``drop``/``flag_any`` mode even that
    aggregation is skipped in favor of a semi/anti join.

    When the benchmark side itself is data-scale (a dedup-against-
    another-corpus use, not an eval suite), broadcasting it would OOM
    the executors: the size check (core/sizing.py ``fits``) reads
    Catalyst's plan-time size estimate (no job when the estimate is
    known — file-backed sources always report one) and above
    ``BROADCAST_LIMIT_BYTES`` switches to a plain shuffled equi-join
    on the shingle key, linear in both sides.  An UNKNOWN estimate
    (local frames; sentinel-derived values) triggers one bounded row
    count per ``apply``.  The size check is the only plan selector; a
    test reaches the shuffled join by setting the class caps to 0.
    """

    #: benchmark-side plan-size cap for the broadcast path; above it
    #: the size router shuffles instead (same tiering as CosineTopK)
    BROADCAST_LIMIT_BYTES = 512 << 20
    #: row cap for the bounded probe when the plan-time estimate is
    #: unknown (local frames, or join-derived estimates Catalyst can
    #: only bound as child-size products).  What actually broadcasts is
    #: the EXPLODED distinct shingle set — roughly ``words_per_doc``
    #: shingles per benchmark doc (x ~40 bytes each), so 100k docs of
    #: ~50 words is already ~200 MB of broadcast state; the cap bounds
    #: that fan-out, not just the row count.  Real eval suites sit far
    #: below it.
    BROADCAST_LIMIT_ROWS = 100_000

    def __init__(
        self,
        benchmark: DataFrame,
        id_field: str = "doc_id",
        words_field: str = "words",
        shingle_size: int = 8,
        min_overlap: int = 1,
        mode: str = "flag",
        flag_field: str = "contaminated",
        overlap_field: str = "n_overlap",
    ) -> None:
        if mode not in ("flag", "drop"):
            raise ValueError(f"unknown mode {mode}")
        self.benchmark = benchmark
        self.id_field = id_field
        self.words_field = words_field
        self.shingle_size = shingle_size
        self.min_overlap = int(min_overlap)
        self.mode = mode
        self.flag_field = flag_field
        self.overlap_field = overlap_field
        super().__init__(input_fields=[id_field, words_field])

    def _bench_shingles(self) -> DataFrame:
        from .hashing import word_shingles

        return (
            self.benchmark.select(
                F.explode(
                    word_shingles(
                        F.col(self.words_field), self.shingle_size
                    )
                ).alias("__s__")
            )
            .distinct()
        )

    def _resolve_strategy(self) -> str:
        # plan estimate when known (no job); an unknown one (local
        # frames, or derived-from-sentinel / product-of-children values
        # the band rejects) gets one bounded row probe instead of
        # assuming eval-suite scale and broadcasting something that
        # might OOM the executors
        rows, size = self.BROADCAST_LIMIT_ROWS, self.BROADCAST_LIMIT_BYTES
        return "broadcast" if fits(self.benchmark, rows, size) else "join"

    def apply(self, df: DataFrame) -> DataFrame:
        from .hashing import word_shingles

        shingles = self._bench_shingles()
        bench = (
            F.broadcast(shingles)
            if self._resolve_strategy() == "broadcast"
            else shingles
        )
        sh = word_shingles(F.col(self.words_field), self.shingle_size)
        inv = df.select(
            F.col(self.id_field).alias("__id__"),
            F.explode(sh).alias("__s__"),
        )
        if self.mode == "drop" and self.min_overlap == 1:
            # any overlap disqualifies: anti-join on contaminated ids,
            # no aggregation at all
            bad = inv.join(bench, "__s__").select("__id__").distinct()
            return df.join(
                bad.withColumnRenamed("__id__", self.id_field),
                self.id_field,
                "left_anti",
            )
        counts = (
            inv.join(bench, "__s__")
            .groupBy("__id__")
            .agg(F.count(F.lit(1)).alias(self.overlap_field))
        )
        joined = df.join(
            counts.withColumnRenamed("__id__", self.id_field),
            self.id_field,
            "left",
        ).withColumn(
            self.overlap_field,
            F.coalesce(F.col(self.overlap_field), F.lit(0)),
        )
        if self.mode == "drop":
            return joined.filter(
                F.col(self.overlap_field) < self.min_overlap
            ).drop(self.overlap_field)
        return joined.withColumn(
            self.flag_field,
            (F.col(self.overlap_field) >= self.min_overlap),
        )


class SemanticDecontaminateMapper(SparkMapper):
    """Embedding-space train/test decontamination: flag (or drop)
    corpus rows whose embedding has cosine similarity >= ``threshold``
    to ANY benchmark embedding — the paraphrase-tolerant complement to
    the n-gram :class:`DecontaminateMapper` (a reworded eval item that
    shares no 8-gram with its source still lands next to it in
    embedding space).

    Scale shape (100 TB contract): a benchmark suite is tiny next to
    the corpus, so the benchmark matrix (float64 values + norms)
    broadcasts once and the corpus streams through ONE Arrow-batched
    ``mapInPandas`` stage computing a per-batch BLAS matmul
    max-similarity — no join, no shuffle, corpus-linear; per-executor
    memory is |benchmark| x dims x 8 bytes.  A benchmark larger than
    ``MAX_BENCHMARK_ROWS`` raises with guidance: decontaminating
    against another DATA-SCALE corpus is cross-corpus near-dedup — use
    ``EmbeddingNearDupPairsMapper`` / ``fuzzy_dedup`` machinery
    instead of broadcasting it.

    Emits ``sim_field`` (max cosine vs the benchmark, rounded to 6dp
    to match the engine-portable oracle convention of
    ``EmbeddingNearDupPairsMapper``; ``-1.0`` when the benchmark is
    empty — below any cosine) and ``flag_field`` 0/1.  ``mode='drop'``
    filters flagged rows and emits neither.

    Beyond the reference surface (allenai/smashed has no embedding
    operators); the recipe generalizes the GPT-3-style eval-leakage
    scrub (DecontaminateMapper's docstring) to embedding space.
    """

    #: hard cap on benchmark rows for the broadcast-matrix path —
    #: 100k x 1k dims x 8 B is ~800 MB of executor state, the
    #: defensible ceiling for "a benchmark suite"
    MAX_BENCHMARK_ROWS = 100_000

    def __init__(
        self,
        benchmark: DataFrame,
        id_field: str = "vec_id",
        vector_field: str = "embedding",
        threshold: float = 0.8,
        mode: str = "flag",
        sim_field: str = "max_benchmark_sim",
        flag_field: str = "semantic_contaminated",
    ) -> None:
        if mode not in ("flag", "drop"):
            raise ValueError(f"unknown mode {mode}")
        self.benchmark = benchmark
        self.id_field = id_field
        self.vector_field = vector_field
        self.threshold = float(threshold)
        self.mode = mode
        self.sim_field = sim_field
        self.flag_field = flag_field
        super().__init__(
            input_fields=[id_field, vector_field],
            output_fields=() if mode == "drop" else (sim_field, flag_field),
        )

    def apply(self, df: DataFrame) -> DataFrame:
        import numpy as np
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        cap = self.MAX_BENCHMARK_ROWS
        # one bounded probe: at most cap+1 benchmark rows are read
        if not fits(self.benchmark, cap):
            raise ValueError(
                f"SemanticDecontaminateMapper: benchmark exceeds "
                f"MAX_BENCHMARK_ROWS={cap}; a data-scale 'benchmark' "
                "is cross-corpus near-dedup — use "
                "EmbeddingNearDupPairsMapper / fuzzy_dedup instead of "
                "broadcasting it."
            )
        b = broadcast_matrix(self.benchmark, self.vector_field)
        threshold = self.threshold
        vector_field = self.vector_field
        sim_field, flag_field = self.sim_field, self.flag_field

        schema = StructType(
            list(df.schema.fields)
            + [
                StructField(sim_field, DoubleType()),
                StructField(flag_field, IntegerType()),
            ]
        )

        def run(batches):
            _, c_mat, c_norms = b.value
            for pdf in batches:
                n = len(pdf)
                if n == 0 or len(c_norms) == 0:
                    # empty batch, or empty benchmark: nothing can be
                    # contaminated; -1.0 sits below any cosine
                    yield pdf.assign(
                        **{
                            sim_field: np.full(n, -1.0),
                            flag_field: np.zeros(n, dtype=np.int32),
                        }
                    )
                    continue
                q_mat = np.array(
                    list(pdf[vector_field]), dtype=np.float64
                )
                # an all-zero embedding scores 0.0, never NaN (which
                # would compare False and silently unflag the row)
                mx = cosine_block(q_mat, c_mat, c_norms).max(axis=1)
                yield pdf.assign(
                    **{
                        sim_field: mx,
                        flag_field: (mx >= threshold).astype(np.int32),
                    }
                )

        from ..core.ship import ensure_shipped

        ensure_shipped(df.sparkSession)
        out = df.mapInPandas(run, schema=schema)
        if self.mode == "drop":
            out = out.filter(F.col(flag_field) == 0).drop(
                sim_field, flag_field
            )
        return out
