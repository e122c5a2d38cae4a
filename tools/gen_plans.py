import sys; sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions","8")
    .config("spark.sql.adaptive.enabled","true")
    .config("spark.driver.memory","6g")
    .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
Q = E.queries()

def explain(df):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

HEADLINERS = {
    "flagship_preprocess": "Every mapper fuses into one narrow codegen'd pass; "
        "the n_chars filter is pushed into the parquet scan.",

    "agg_pricing_summary": "Map-side partial HashAggregate before the single "
        "exchange on the 2-value grouping key.",
    "dedup_lsh_pairs": "Narrow signature compute, explode to band buckets, one "
        "equi-join on the bucket key — O(docs x bands).",
    "dedup_exact": "One exchange keyed on the content digest.",
    "join_shipping_priority": "Customer dimension broadcasts; at this SF AQE "
        "broadcasts the filtered orders side too (no fact shuffle at all), "
        "while at scale the lineitem-orders equi-join shuffles once on the "
        "shared orderkey. The rank<=10 filter collapses into "
        "TakeOrderedAndProject - no global sort.",
    "fewshot_jinja": "r5 composite: JinjaMapper renders src+tgt per row "
        "(first MapInPandas), then each (num_shots+1)-row group folds into "
        "ONE row via a JVM-side collect_list hash-agg (map-side partial, one "
        "exchange on the contiguous group id — no global sort) and a second "
        "MapInPandas renders thousands of fewshot groups per Arrow batch. "
        "Two bulk Python stages, one exchange.",
    "dedup_substring": "Lee et al. ExactSubstr end-to-end (r6 composite: "
        "spans AND keep-first removal): (pos, hash) pairs explode "
        "12-bytes-wide (hash computed BEFORE the explode); ONE wide "
        "exchange on the window hash carries BOTH the occurrence count "
        "and the first-occurrence rank (two window functions, same "
        "partitioning); per-doc island merges produce the span list and "
        "the removable spans; the cut is a narrow index-filter rebuild "
        "of the words after a join of KB-sized per-doc span lists.",
    "pack_sequences": "Slim (doc_id, count) projection rides the prefix "
        "sum's range sort and pid-window shuffles; the wide token arrays "
        "cross exactly two exchanges (start-offset join + block agg). "
        "Fragment explode is narrow and bounded (ceil(n/B)+1 rows/doc).",
    "sketch_distinct": "KMV, single-pass for ALL columns (r6): one "
        "exploded (cidx, hash) stream, per-column top-2k via "
        "row_number over the cidx window — WindowGroupLimit pushes a "
        "partial per-group limit below the ONE exchange, so each map "
        "task forwards at most 2k rows per column however large the "
        "corpus; a 50-column audit costs one scan, not 50.",
    "semantic_dedup": "SemDeDup (r6): bounded hash-ordered centroid fit "
        "(one TakeOrdered job), Arrow-batched cell assignment, ONE "
        "exchange on the cell key into a chunked unit-matmul per cell — "
        "O(N^2/k) cluster-scoped cosine, max_cell_size fail-fast guards "
        "a degenerate quantizer. Plan-asserted: one exchange, one Arrow "
        "group stage, no cartesian.",
    "sample_mix": "The full curation chain (r7): hash-gate mixing and "
        "split/shard assignment are narrow md5 expressions; the quota "
        "stage's row_number<=N compiles to WindowGroupLimit; the r7 "
        "incremental-dedup stage is a LEFT ANTI join against a 32-byte "
        "digest index (broadcast at gate scale) plus a first-wins "
        "WindowGroupLimit; the r7 incremental FUZZY stage drops on "
        "MinHash band-key collision vs a 36-byte/doc band index and "
        "greedily first-wins-bands the batch (one band-key exchange); "
        "the r7 token-budget stage prefix-sums a slim (key, score, "
        "tokens) projection and joins the keep flag back by key — the "
        "wide text column is dropped before the shard exchange.  "
        "Every decision a pure function of doc_id/text "
        "(partition-invariant, SQL-replayable end to end).",
    "dedup_ngram_jaccard": "Shingles hash to 8-byte keys before the ONE "
        "exchange on the shingle; the hub-frequency cap is a count window "
        "over that same partitioning and the per-shingle pair-generation "
        "groupBy reuses it too — the cap adds zero extra shuffles of the "
        "inverted index.",
    "dedup_simhash_pairs": "Exact Hamming-ball pairs by pigeonhole banding: "
        "token hashes projected once (no per-bit md5 re-evaluation), band "
        "equi-join, map-side bit_count verify BEFORE the dedup shuffle — "
        "no cartesian product, O(docs x bands) join input.  r8: the "
        "band-occupancy fail-fast is IN-PLAN (a count window over the "
        "join keys feeding raise_error, riding the join's own "
        "exchange + sort) — zero extra jobs, apply() fully lazy, the "
        "job dies in the banding stage before a hot bucket can make "
        "the join output quadratic; a 128-bit two-word fingerprint "
        "tier (32-bit bands) covers corpora past ~1e9 docs.",
    "dsir_select": "Two bounded table fits (one bucket-count exchange "
        "each, <= dims rows collected), then a fully NARROW "
        "difference-literal aggregate fold scores every doc, and the "
        "seeded Gumbel draw collapses to TakeOrderedAndProject — "
        "per-partition top-k plus a k-row driver merge, no global "
        "sort, no exchange.  r11: above a 256 MiB driver budget the "
        "draw runs on a (id, logw) projection and the winner ids "
        "broadcast-semi-join back (slim rows only in the merge).",
    "diversity_select": "Injected-quantizer cell assignment + "
        "prototypicality cosine in ONE narrow Arrow matmul stage; the "
        "within-cell ranking is ONE exchange on the cell key, and the "
        "keep_fraction count-window rides that same exchange (same "
        "partition key).  With per_cell the literal filter rewrites "
        "to WindowGroupLimit (partial top-n before the shuffle).",
}

STATIC = """\
## stream_sessionize (streaming/stateful.py)

Bounded replay of the events table (plus one sentinel event per user
past the gap, so every real session closes in-stream):
`applyInPandasWithState` keyed on user_id over ONE exchange —
`FlatMapGroupsInPandasWithState` with O(users) state rows, no global
sort, `trigger(availableNow=True)` so the query drains and terminates
itself.  All files land in micro-batch 0 (no read limits configured),
and the stateful fn sorts each user's rows within the batch, so the
replay write can be parallel.

```
FlatMapGroupsInPandasWithState [user_id ...] (state: [last_us, start_us, n, total])
+- Sort [user_id]                       <- partition-local, for grouping
   +- Exchange hashpartitioning(user_id)
      +- StreamingRelation parquet
```

## with_row_index (core/order.py)

Catalyst-native two-phase global index: a tiny per-partition
(min monotonic id, count) aggregate, then a broadcast join of the
KB-sized offset table — no Python/RDD round-trip, whole-stage codegen
throughout, the input scans once (persisted across the two phases).

```
BroadcastHashJoin on __pid__          <- offsets table (one row/partition)
+- InMemoryTableScan [v, __pid__, __mid__]
      +- * Project [spark_partition_id(), monotonically_increasing_id()]
         +- (input)
```

## embedding_near_dup, large-corpus path (functions/dedup.py)

Above BROADCAST_LIMIT the mapper explodes each vector into
(table, bucket) hyperplane-LSH keys — all `num_tables * num_bits`
signature dots computed as one BLAS matmul per Arrow batch — and
equi-joins bucket-mates: a plain shuffled hash join on the bucket key,
O(docs x tables), no CartesianProduct anywhere (plan-asserted by
test_near_dup_lsh_path_above_limit); exact cosine reranks candidates
in one einsum per Arrow batch.  The O(n^2) expression join survives
only behind exact=True.

## dedup_clusters small-graph tier (functions/graph.py, round 6)

`connected_components` now probes the deduplicated bidirectional edge
list (a bounded `limit(n+1).count()` on the blocks its eager
checkpoint just materialized): at or under `small_graph_edges`
(default 1M rows ~16 MB) the components are solved by ONE driver-side
union-find instead of iterated join rounds — near-dup edge sets are
usually orders of magnitude smaller than the corpus, so even the 100x
probe (500k docs -> 13k pairs) takes this tier.  Labels are identical
to the distributed path by construction (min-id per component;
property-tested), which stays the default above the threshold.

## stream_dedup (streaming/runner.py, round 5)

`dropDuplicatesWithinWatermark` on the replayed-duplicates stream:
ONE exchange on the dedup key feeding `StreamingDeduplicateWithinWatermark`
(state: one entry per key inside the watermark horizon — O(keys/horizon),
not O(stream)); `trigger(availableNow=True)` drains the bounded replay
and self-terminates, same no-polling discipline as stream_sessionize.

```
StreamingDeduplicateWithinWatermark [event_id] (state: first-seen ts per key)
+- Exchange hashpartitioning(event_id)
   +- EventTimeWatermark ts, 2 hours
      +- StreamingRelation parquet
```
"""

MANUAL_NOTES = """\
## Scale probe: sf0.1 -> 10x (~sf1) and 100x, tools/scale_probe.py, BENCH_SCALE.json

Nine gates re-timed on a deterministic 10x blowup of their inputs
(re-keyed copies; every document word tagged with the copy id so
shingles/minhashes/simhashes never collide across copies — constant
near-dup density, not a denser problem), and the six steepest /
structurally distinct curves plus the scaled-k SemDeDup probe pushed
a SECOND decade to 100x (r7 adds dedup_simhash_pairs and
semantic_dedup to the deep set).  All
probes use the r6 noop-sink action (full-plan evaluation — see the
measurement-fix note below) and streaming probes drain through the
PRODUCTION parquet sink (the round-5 memory-sink A/B is preserved in
`sink_ab_100x`).  Wall ratios at local[32], best-of-2 (ideal linear
= 10):

- `dedup_ngram_jaccard` **2.15x at 10x, second decade 10.85x**
  (rows exactly 10x per decade): linear through 500k docs.  The
  `auto` router chose `join` at every scale — correct, because
  constant-density tagging preserves the corpus's uniform
  shingle-frequency shape (fan-out skew ~1); Zipfian corpora flip
  it to `prefix` (pinned in tests).
- `dedup_substring` **1.88x at 10x, second decade 8.9x** (the r6
  spans+removal composite, 50M windows at 100x): near-linear.
- `stream_sessionize` **2.92x at 10x, second decade 7.09x**
  (parquet sink): sublinear in users, its data dimension.
- `ann_ivf_topk` **3.41x at 10x, second decade 2.98x** (fixed
  100-row output): bounded fit + probe-cell rerank amortizing.
- `dedup_clusters` **0.98x at 10x, second decade 3.97x** (500k
  docs at 100x): LSH pair generation dominates; the r6 small-graph
  driver union-find tier solves the 13k-pair component step in one
  job.
- `text_stats` **0.95x** (re-probed after the r6 Gopher-verdict fold;
  first measured 1.40x once the noop action made the family's
  expressions visible): narrow scan-bound family plus the one
  repetition-agg shuffle — fixed overheads dominate through 50k docs.
- `semantic_dedup` (scaled-k probe) **3.03x at 10x, second decade
  7.04x (r7)** with n_centroids grown 8 -> 80 -> 800 so cell size
  stays constant — output grows to 18.4M pairs at 100x on the
  identical-copy corpus (every vector gains 99 exact twins) while
  wall grows 7x/decade: the cluster-scoped matmul is corpus-bound,
  not output-bound, and the auto-sized-quantizer design holds through
  200k vectors.  Probing the gate's FIXED k=8 would time the
  documented-away quadratic instead of the operator's scale design.
- `dedup_simhash_pairs` **0.84x at 10x, second decade 5.32x (r7;
  500k docs, 345k pairs at 100x)**: sublinear both decades — no band
  occupancy term surfacing, with the r7 occupancy-guard probe
  running inside the timed region at every scale, as production
  would.  (Rows grow ~27x per decade rather than 10x because
  per-copy word tagging REDRAWS every token hash — pairs near the
  hamming-3 boundary cross it either way under a new draw, a
  threshold-variance effect, not an occupancy blowup like the former
  32-bit setting's.)
- `dedup_lsh_pairs` **0.96x**,
  `stream_dedup` **1.51x** (parquet sink), `pack_sequences`
  **2.41x** — all at-or-under linear.

No query shows a superlinear wall-clock term at any probed decade.

## Round-7 scale-design closures

The two round-6 "weak at the extreme end" components are closed:

- **Token-budget selection no longer materializes the corpus**
  (sources/loaders.py select_under_token_budget): the prefix sum —
  a range-partitioned sort plus an eager localCheckpoint inside
  `with_prefix_sum` — now runs on a slim `(key, score, tokens)`
  projection (~24 bytes/row) and only the 0/1 keep flag joins back
  by key, the same discipline PackSequencesMapper already used.  At
  100 TB the sorted/checkpointed working set is GB-sized regardless
  of row width.  Pinned by a projection spy + schema test
  (test_contrib_loaders.py) and the unchanged greedy-replay goldens.
- **SimHash band occupancy is enforced, not just documented**
  (functions/dedup.py SimHashNearDupPairsMapper): a plan-time probe
  (one bounded groupBy-max aggregate over the slim banded index,
  memoized per input plan, skipped on streams) raises before a hot
  band bucket can make the self-join's output quadratic — the same
  degenerate-input contract as SemanticNearDupPairsMapper's
  max_cell_size.  Default cap 20k docs/bucket (~2x10^8 candidate
  pairs from one bucket).  For corpora past ~1e9 docs — where even
  16-bit bands fill — SimHashMapper(bits=65..128) emits a two-word
  `array<bigint>` fingerprint (word 0 bit-identical to the 64-bit
  fingerprint) and the pairs mapper bands across the full 128-bit
  space (word-straddling bands handled; Hamming = summed bit_count),
  giving 32-bit bands at max_hamming=3: tiny buckets out past 1e11
  docs.  Banding exactness at 128 bits is pinned against brute force
  for band counts that do and don't straddle the word boundary.

## Round-6 measurement fix: noop-sink timing (count() undercounted)

bench.py and the scale probe now force full plans through Spark's
noop sink instead of `count()`.  Root cause, found when the r6
substring composite benched at 0.6 s for 500k docs: under a count,
Catalyst prunes every column expression above the last join/agg and
can ELIMINATE left joins against unique-keyed aggregates outright —
the composite's whole pipeline optimized away, and narrow-expression
gates were silently under-measured all along (text_stats: 0.68 s
counted vs 5.9 s fully evaluated at sf0.1 — the langid/quality/
fingerprint expressions never ran under the old action).  Absolute
seconds therefore take a one-time upward step in BENCH_r06 vs earlier
rounds ON TOP of the host factor below; the r6 numbers are the first
that time what the driver's value comparison actually executes.
(The round-4 reference-baseline harness ALREADY forced plans through
the noop sink for exactly this reason — BASELINE.md notes it — so the
0.2x-geomean-vs-reference comparison was always sound; this fix
brings bench.py/scale_probe in line with that methodology.)
Chasing the newly visible cost: FingerprintMapper's per-char-position
gram hash gained a xxhash64 default (~40% faster than the md5 chain;
md5 retained for oracle parity and pinned in the gate).

## Round-6 bench host-noise forensics

Mid-round full-bench runs on this host measured a UNIFORM ~1.3x
slowdown vs the round-5 recordings — geomean 1.29 over the 48
comparable queries with a tight spread, including queries whose code
has not changed since round 1 (`filter_project` 1.39x,
`enumerate_field` 1.37x, `prompt_family` 1.35x: pure scan+filter
plans with no conceivable regression path).  A second same-day data
point: two identical-code full noop-action runs 2.5 h apart measured
54.0 s then 74.9 s (geomean 1.33x, with JVM-heavy queries at 2-2.9x
while trivial scan canaries stayed FLAT and per-rep timings were
still descending at rep 3 — cold page cache plus sustained-load CPU
behavior, echoing round 2's documented 51-to-72 s swings on
byte-identical code).  Interpret round-over-round absolute seconds
through that lens; the honest comparators are (a) per-query ratios
against the same-run trivial-query baseline and (b) the same-session
interleaved A/Bs used for every r6 plan decision (sink switch,
signature carry-through).

## asof_join (functions/asof.py)

Temporal backward as-of enrichment with NO join node: both sides
project into a common shape (right payload as ONE nullable struct, so
a NULL payload field in the matched row is never papered over by a
stale older row), union, and a single keyed window carries the last
right struct forward.  One exchange on the by-key, one in-partition
sort, cost O((|L|+|R|) log batch) per key — the theta-join
formulation this replaces is O(|L|x|R|) per key.

```
Project [k, t, lv, __m__.__t__ AS t_asof, __m__.rv AS rv_asof]
+- Window [last(__r__, true) over (partition k order __t__, __side__)]
   +- Exchange hashpartitioning(k)
      +- Union
         :- Project [k, t AS __t__, 0 AS __side__, struct(t, rv) AS __r__, ...]
         +- Project [k, t AS __t__, 1 AS __side__, null AS __r__, ...]
```

RangeJoinMapper (same module) turns interval containment into a
bucketed hash equi-join — intervals explode into covered buckets,
the exact predicate rides as the join's residual filter, and
`how="left"` is the same single join as left_outer (no second
candidate pass).  Plan-asserted: no CartesianProduct /
BroadcastNestedLoopJoin (tests/test_asof_range.py).

## text_stats with repetition signals (round 4)

RepetitionStatsMapper adds the family's only shuffle: explode word
2-grams -> hash-agg on (doc_id, gram) -> per-doc agg -> equi-join
back on doc_id.  Both aggregations are map-side-partial friendly and
the doc id rides in every grouping key, so there is no hub skew at
any corpus size; measured +0.15 s on the sf0.1 gate.  64-bit SimHash
(the new default) measures 3.3 s on sf0.1 docs vs 1.9 s at 32 bits —
linear in `bits` as the O(bits x tokens) fold predicts (each token is
md5'd ONCE; both 32-bit words slice out of the projected digest, and
the interpreted per-bit aggregate folds, not hashing, dominate), all
scan-parallel.

## dedup_ngram_jaccard method="prefix" (PPJoin prefix filtering, round 4)

Third exact method beside `join`/`grouplist`: index only each doc's
rarest `|x| - ceil(t|x|) + 1` shingles under a global
(frequency, hash) order — any pair with Jaccard >= t provably shares a
prefix shingle (Chaudhuri et al. 2006 / Xiao et al. 2008) — then
verify survivors with `array_intersect` over the full capped sets.
Measured on a 20k-doc Zipfian corpus (realistic text): **9.7 s vs
23.6 s for `join` (2.4x)**, and the join path needed a 20 GB driver to
survive the same corpus's sum(freq^2) candidate fan-out at all.  On
the bundled uniform tiny-vocab testdata every shingle is frequent, no
prefix is rare, and plain `join` stays faster (3.0 s vs 5.5 s at
sf0.1) — hence `join` remains the default and the gate method; output
equality of all three methods is property-tested
(tests/test_properties.py::test_ngram_jaccard_methods_agree_on_random_corpora).

## Round-5 bench forensics: embedding_near_dup "regression" and the r4 cost buys

**embedding_near_dup (r4 flagged 1.73x vs r3, ~1.3x residual after
noise): NOT a code regression.**  Same-host A/B — round-3 code
(c9027f2, via a throwaway worktree) vs current code, identical session
configs, 5 reps each, both orderings — measures best-of-5 {1.55, 1.02} s
for r3 code and {1.09, 1.25} s for current code: each side "wins" one
ordering, spreads overlap completely, and the row count (4137) is
identical.  The r3-recorded 0.59 s was a faster host window (the same
session's trivial controls — lookup_map, glom_path — now run 1.7-2.4x
their r3 numbers on identical bytes).  No plan change, nothing to claw
back; the r4 limit-probe change is not even on this gate's code path
(file-backed source -> plan-time size estimate -> broadcast tier, no
probe job).

**Deliberate r4 cost buys, stated for the record:**

- `dedup_simhash` ~2.4x vs r3: true 64-bit simhash (two composed
  32-bit md5-word simhashes, then a single-md5 variant in eaba901) —
  bought correctness: 64-bit signatures keep default banding
  non-degenerate (2^16 values/band); the r3 16-bit gate simhash
  saturated bands on large corpora.
- `text_stats` ~2.0x vs r3: Gopher repetition stats (dup-word /
  dup-2-gram fractions) folded into the same gate — bought new
  surface; the added column algebra is the measured delta, the
  exchange budget is unchanged (test_plan_quality.py pins it).

## Round-5 auto method selection for dedup_ngram_jaccard

`method="auto"` (now the default) resolves join-vs-prefix from a
bounded 2000-doc sample probe measuring the fan-out skew ratio
`D*sum(f^2)/P^2` (1.0 = perfectly uniform shingle frequencies).
Empirics: Zipfian corpora measure 30 (2k-doc sample) to 220 (full
20k), uniform tiny-vocab 1.01-1.08, the bundled fixture 1.29 (sf0.01)
and 1.12 (sf0.1) — the ratio separates the regimes by >20x at both
full and sampled scale.  The hapax ratio, the obvious first idea, does
NOT discriminate: uniform random trigram shingles are ~0.9 hapax too
(trigram space >> corpus).  A sample understates the full-corpus
ratio, which errs toward `join` — the safe direction (a missed prefix
opportunity costs only speed).  Probe cost: one `limit`-bounded
aggregate job, independent of corpus size.

## Round-5 bench budget (deliberate cost buys and claw-backs)

Gate-set delta vs round 4, so BENCH_r05's total is attributable line
by line: REMOVED jinja_render (~0.36 s), sessionize_events (~0.15 s),
join_revenue_by_nation (~0.39 s), lookup_map (~0.15 s) — their
operators fold into fewshot_jinja / session_stats / test_plan_quality
/ cast_binarize respectively.  ADDED dedup_substring (~1.1 s),
sketch_distinct (~1.1 s, two bounded TakeOrdered jobs — fixed
overhead, not data cost), stream_dedup (~1.7 s, streaming engine
fixed cost), pack_sequences (~1.0 s), dedup_clusters quota stage in
sample_mix (neutral).  CLAWED BACK: dedup_clusters 6.7 -> ~3.3 s (CC
now one job per round: convergence check fused into the lazy
checkpoint's materializing aggregate, one join less per round).
fewshot_jinja buys a second MapInPandas stage (the composite now
renders through JinjaMapper first) for one more operator under the
same gate.  Net: 33.0 s total at sf0.1 for 50 gates (end-of-round run) vs 37.7 s
for the round-4 set measured in the same session — 12% faster wall,
+8 operators certified (substring spans, KMV sketch, streaming dedup,
sequence packing, quota sampling, hash split, paragraph dedup via the
pii composite, bin packing unit-only).

## Round-6 bench budget (gate-set delta vs round 5)

REMOVED dedup_simhash (folded into dedup_simhash_pairs, which now
emits both endpoints' 32-bit fingerprints — SimHashMapper stays
value-certified) and, from the prior r6 session, dedup_minhash_sig
(folded into dedup_lsh_pairs the same way, r6: carried through the
band shuffle, measured at parity with the post-join form).  ADDED
semantic_dedup (~0.65 s: centroid fit job + one cell-shuffled Arrow
stage) and pack_bins (~0.5 s, FFD replay oracle).  CHANGED: the
sample_mix chain grew the training-shard stage (one extra shard-key
exchange, ~+0.1 s); sketch_distinct moved to the single-pass
multi-column plan (one scan for N columns — at the 2-column gate the
window sort roughly offsets the saved second scan; the win is the
N-column audit, not the gate).  Absolute seconds this round carry the
~1.3x host factor documented above.

## Round-7 bench budget (gate-set delta vs round 6)

No gates added or removed (registry at the 50 cap); three gates grew
deliberately to certify round-6's unit-only operators, measured in a
same-host A/B against BENCH_r06 (geomean over the 50 common queries
**0.95x** — the round is net cheaper despite the buys):

- `sample_mix` 0.35 -> 4.06 s (**deliberate**): the chain gained
  THREE stages — incremental exact dedup (md5 digests + broadcast
  anti-join + first-wins WindowGroupLimit, -> 1.09 s cumulative),
  incremental FUZZY dedup (MinHash signatures + the band-index
  decision pipeline, -> 3.19 s), and token-budget selection (slim
  prefix sum + flag join-back, -> ~4.1 s) — certifying six operators
  under one gate.  The stage profile (best-of-2, bench config): mix
  0.53 / +split 0.77 / +exact 1.09 / +fuzzy 3.19 / full 4.1-4.5.
  The fuzzy stage's cost is dominated by the DOCUMENTED 2x upstream
  evaluation (slim decision pipeline + full-width survivors join);
  its first implementation fanned the un-cached upstream DAG into
  four semi/anti-join branches — four full recomputations, 7.6 s on
  the probe — and was rewritten as one linear indicator-join +
  two-window pipeline (dedup.py docstring records the lesson).  The
  10x probe ratio for the whole chain is 1.96x (sublinear; output
  row count is quota-capped, so the chain's wall is dominated by the
  corpus-side scans and index builds, which scale linearly).
- `dedup_simhash_pairs` 7.39 -> 9.04 s (**1.22x — deliberate**): the
  r7 band-occupancy fail-fast probe (one bounded aggregate over the
  banded index) runs at plan time inside the measured region, exactly
  as production would pay it.  The probe re-executes the narrow
  signature projection (the banded index is lazy); the 100x deep
  probe confirms the whole query stays sublinear per decade (5.32x)
  with the guard on.
- `pii_redact` 1.48 -> 1.57 s (**1.06x**): the C4CleanMapper stage —
  narrow line algebra riding the same scan.

- `decontaminate` 0.90 -> 1.07 s (**1.19x — deliberate**): the r7
  embedding-space stage (SemanticDecontaminateMapper — benchmark
  matrix broadcast + one Arrow matmul stage, zero exchanges on the
  corpus side, plan-pinned in test_plan_quality) joined the n-gram
  stage under the same gate.  10x probe ratio 1.32x — corpus-linear.
- `text_stats` 5.5 -> 5.65 s (**1.03x**): the r7 model-based quality
  scorer fold (LinearQualityClassifierMapper — hashed-BoW linear
  model as a narrow aggregate fold, md5-derived weights replayed
  bit-for-bit by the oracle) rides the family's existing scan.

Everything else moved <=1.12x (host noise band); the ANN family ran
0.78-0.80x.

## Round-5 scale probe, extended run (new ops + sink A/B)

Round-5 additions to the probe set (BENCH_SCALE.json): dedup_substring
10x wall ratio 1.82 (window explode is narrow; the wide hash exchange
dominates and scales with input), dedup_clusters 1.33 (3 CC rounds
regardless of scale — rounds grow with log of max cluster diameter,
not corpus size), stream_dedup 2.21 at true constant duplicate
density (the probe's copy-blowup now offsets event_id as well as
user_id — an earlier probe build collided event ids across copies and
silently measured a 90%-duplicate corpus).

stream_sessionize's "superlinear" second decade (14.8x) was pinned by
an interleaved same-session sink A/B at 100x: memory sink 71.4-115.3s
vs parquet sink 49.3-54.9s best-of-2 for the identical stateful
query.  Parquet (the production sink) gives a 6.7x second decade —
sublinear; the memory sink's 9.5M-row driver collect is the
superlinear term, a bench-harness artifact the correctness gate needs
(it must return rows to the driver) but production does not.

## Round-5 deep scale probe: the second decade (100x, ~sf10)

The two steepest round-4 10x curves got one more constant-density
decade (tools/scale_probe.py deep phase: 10M events / 200k vectors,
events+embeddings only — the probed queries read nothing else):

| query | 1x | 10x | 100x | 2nd-decade ratio | verdict |
|---|---|---|---|---|---|
| stream_sessionize | 2.71 s | 9.73 s | 112.5 s | 11.6x | near-linear |
| ann_ivf_topk | 1.70 s | 4.03 s | 43.2 s | 10.7x | near-linear |

The scary-looking first-decade ratios (4.24x r4 / 3.59x now for
streaming, 2.5x/2.37x for IVF) were fixed-cost amortization, not a
brewing quadratic: once those costs are paid, the SECOND decade costs
~10-11.6x per 10x data — linear within noise.  Residual 1.16x
superlinearity on stream_sessionize is dominated by the bench
harness's memory sink (9.5M session rows collected into the driver),
not the stateful operator; a parquet sink removes it in production.
ann_ivf's fit stays bounded at 100k vectors (the sample cap engaged at
100x for the first time: 200k corpus > cap), confirming the
fit-sample design does its job — assignment and probe-join are the
linear terms.  Output rows scale exactly 100x (9,546,500 sessions /
100 top-k rows), pinning constant density.

## Round-9 learned BPE (functions/bpe.py)

Hermetic, corpus-learned byte-pair encoding so token-budget
selection and packing run on numbers that track real tokenizer
behavior instead of whitespace counts.  Fit = Sennrich word-type
algorithm with two Spark bounds: word-type counts cross ONE
map-side-partial exchange, and a TakeOrdered caps the driver table
at max_word_types (most frequent, ties by word — deterministic,
partition-invariant, test-pinned); the merge loop then runs
driver-side over the bounded table, independent of corpus size, with
a lexicographic tiebreak and a stop rule (best pair count < 2 =
memorization, stop).  Encoding ships merge ranks in one Arrow UDF
closure — narrow, zero exchanges, character fallback for unseen
input.  The textbook merge sequence is hand-derived in the test, not
replayed through the implementation.

## Round-9 attribute sidecars (sources/attributes.py)

The Dolma-style storage pattern that makes 100 TB re-curation cheap:
scoring passes run ONCE and persist bytes/doc of (key, attributes)
parquet; every later recipe change is a join against the sidecar,
not a recompute of the scoring scan.  Writer projects slim columns
(payload-named columns refused by default — a sidecar that carries
the corpus defeats its purpose) and repartitions by key.  Join tier:
broadcast under a bounded limit-probe (filtered sidecars are small),
else plain equi-join — plain parquet cannot record bucketing without
a metastore (the same documented bucketBy/saveAsTable trade-off as
the ingest indexes; metastore deployments bucket BOTH sides and
delete the join exchanges, same API).  Duplicate sidecar keys raise
in-plan through the shared count-window guard wrapping a CARRIED
attribute column — wrapping a synthetic dropped column would let
Catalyst prune the guard away with it (the simhash lesson, re-learned
by the first draft and caught before commit).

## Round-9 calibration-tier scale probe (calibrate_tiers)

text_stats' post-calibration re-probe read 7.12 / 6.24 / 89.6 s at
1x/10x/100x — a 14.4x "second decade" that triggered the probe's
superlinear flag.  Investigated rather than shipped: the 10x point
measured BELOW the 1x point (0.88x — the family is overhead-dominated
through 50k docs on this host), so decade attribution there is noise;
end-to-end the curve is 12.6x wall for 100x data, sublinear.  The
direct isolation experiment (`calibrate_tiers` in BENCH_SCALE.json)
times BOTH calibration tiers alone on the same blown-up documents:
exact 0.33/0.54/0.92 s, approx 0.23/0.46/0.63 s across the two
decades — flat; the round's new stage is exonerated as a superlinear
term.  The probe also documents the exact tier's REAL scale bound:
its rank+count windows parallelize at most #groups wide (10 sources
here), harmless at 50k rows/source but binding at
billions-per-source — which is precisely why the mergeable
percentile_approx tier is the 100 TB default and the exact tier is
reserved for the oracle-parity gate.

## Round-9 session-2 bench budget (gate-set delta)

The late-r9 gate set differs from the BENCH_r08 set by: +dsir_select
(~1.7 s at sf0.1 — two bucket-count fits + narrow fold +
TakeOrdered), text_stats +~0.35 s (the calibration stage, priced
above), −enumerate_field (~0.2 s, folded into cast_binarize which
gains ~0.15 s for the dictionary-encode join).  Net expected total:
~+1.9 s over the 50.9 s r9 sidecar refresh.  Three back-to-back
full runs on this host measured 68.5 / 61.8 / 57.8 s with 1-min
loadavg swinging 0.9-3.1 — the spread between runs (10.7 s) exceeds
the entire code delta, and per-query comparison shows the inflation
landing on UNTOUCHED queries (dedup_clusters 2.7↔4.0, pii_redact
1.2↔2.2 across runs): host noise, not regression.  The
streaming_ingest_dedup gate absorbs the new per-batch sizing counts
(3 batches x 1 bounded count job) inside its run-to-run noise
band (3.1↔5.1 s across the three runs).

## Round-9 DSIR importance resampling (functions/selection.py)

Data selection per Xie et al. 2023: log importance weight
`sum_w [log p_target(w) - log p_raw(w)]` over the existing
hashed-unigram tables — the two tables collapse into ONE difference
array plan literal, so weighting is a single narrow aggregate fold
(zero exchanges, plan-pinned).  Resampling uses the Gumbel-max
trick: key = logw - ln(-ln(u)), u seeded per row from md5(id:seed)
(portable_hash32) — a deterministic, partition-invariant,
SQL-replayable draw WITHOUT replacement proportional to exp(logw).
The top-k compiles to TakeOrderedAndProject: per-partition top-k,
k-row driver merge, never a global sort — at 10^9 docs only k rows
move.  Tests replay the exact draw bit-for-bit in python and pin the
heavy-weight-wins statistics across 20 seeds.

Late-r9 gate rotation #2: `dsir_select` joined the driver scorecard
(target = long docs, k=200, seed=13) with an oracle that replays the
ENTIRE pipeline from first principles in SQL — bucket-count fits as
CTEs, smoothed log-ratios, per-doc sums, and the md5-seeded Gumbel
keys — value-hash MATCH at 6dp.  The slot came from folding
enumerate_field into cast_binarize (same documents table; the
ROW_NUMBER dictionary-encode CTE now rides that gate's oracle), the
same consolidation round 5 used for one_hot/lookup_map and round 9
used for glom_path.

Fixing it surfaced a LATENT bug in both existing scoring folds
(UnigramLogProbMapper, LinearQualityClassifierMapper): inside a
higher-order-function lambda, `element_at` with a NULL index poisons
the whole aggregate to NULL even when wrapped in coalesce — one NULL
token silently un-scored the doc.  Both folds now filter NULL words
first (the fit's "NULL words carry no count" contract); the quirk
itself is pinned in tests/test_selection.py.  Gate-invariant: the
text_stats corpus derives words via split(), which never produces
NULL elements.

## Round-9 one-pass corpus profiler (functions/profile.py)

`profile_corpus`: the audit step — per-column nulls, min/max,
moments, GK quantile sketches, string lengths in ONE global
aggregate (a global agg's exchange carries one partial-state row per
task — KBs regardless of column count), plus the existing
single-pass multi-column KMV job for distinct estimates.  Two
bounded jobs total for an N-column profile; result is O(N) rows
assembled on the driver.  Complex types get counts/nulls only, BY
DESIGN: profiling inside arrays/maps means an explode, and an audit
helper must never hide an explode's cost — the caller projects
explicitly.  NaN is excluded from moments exactly like NULL (a
poisoned mean hides the rows an audit exists to find).

## Round-9 deliberate cost buy: the text_stats calibration stage

The late-r9 calibration fold (per-source threshold on model_q_score,
retain=0.5, exact tier) prices at **~+0.3 s** on the sf0.1 gate
(6.09 -> 6.36 s measured after warmup; a cold first rep reads ~8.8 s
— this host's usual warm-up spread, see the ann_ivf note below).
The cost is the threshold branch's second evaluation of the
classifier fold, column-pruned to (source, model_q_score): Catalyst
eliminates the repetition join and every other family column from
that branch (left-join-vs-unique-agg elimination — verified in the
plan tree: scan -> projects -> one slim exchange -> rank/count
windows, no 2-gram aggregate).  New work, documented price; the
exchange-budget pin moved 3 -> 5 (slim shuffle + thresholds
broadcast).

## Round-9 bench-regression decomposition (the r8 VERDICT's wrong #3)

The judge flagged three same-work r7->r8 deltas (`ann_ivf_topk` +32%,
`embedding_near_dup` +71%, `sample_mix` +17%) for line-item
decomposition.  Measured with matched same-host A/B runs (current code
vs a `git worktree` of the r7 round commit b895726, identical session
config, min-of-reps):

- `ann_ivf_topk` (r7 1.27 -> r8 1.68 s): **warmup variance, nothing
  attributable to code.**  A 5-rep run declines monotonically
  3.70 / 1.71 / 1.35 / 1.28 / **1.15** — the floor is BELOW r7's
  number, and the r7->r8 code diff for the IVF path is a pure
  refactor (fit extracted to `fit_centroids_sampled`, `assign_cells`
  shared, one dims-equality check per Arrow batch).  The bench's
  default 3 reps simply caught the warm-up side of the curve.  The
  injected-centroid machinery (`fit_ivf_index` + `centroids=`) is
  plan-time-only and costs nothing when unused.
- `embedding_near_dup` (r7 0.40 -> r8 0.68 s): **bench-context noise.**
  The executed tier (broadcast BLAS `mapInPandas`) is byte-identical
  r7->r8 (the r8 zero-norm guards landed in `CosineTopK`'s tiers, not
  this mapper's broadcast tier, and the r9 A/B confirms: r7 code
  0.502-0.546 s hot, current code 0.488-0.539 s hot in the SAME
  isolated loop).  The r7 bench's 0.398 s reflects a warmer python
  worker pool from the preceding gate mix, not cheaper code.
- `sample_mix` (r7 3.71 -> r8 4.33 s): **~0.2 s real, the rest noise.**
  Stage-cumulative bisect (same chain cut at each stage, min-of-3,
  r7-worktree vs current): mix+quota+split 0.47 vs 0.46 (parity);
  +dedup_incremental 0.63 vs **0.83 (+0.20 s — the r8 determinism
  guards: xxhash64 content tiebreak over the non-text columns + the
  in-sort-key NULL raise — priced-in correctness cost: first-wins
  became a pure function of the data)**; +fuzzy 2.05 vs 1.97
  (parity — including r9's duplicate-tolerant collect_set guard:
  the distinct-slot count rides the same per-id window, measured
  free); +budget 3.94 vs 3.67 (current FASTER); full chain 3.69 vs
  3.61 (current faster).  The chain is at parity under matched
  conditions; the bench-to-bench swing (this host runs 4.0-7.1 s
  across 5 reps of the same binary) is the documented host-noise
  band.

Verdict: one real line item (+0.2 s of determinism-guard cost in
`dedup_incremental`, bought deliberately in r8 and kept), zero
reclaimable regressions.  The r9 ingest-path changes (tail-only
distinct, duplicate-tolerant fuzzy guard) measure free at gate scale
and strictly cheaper at 100 TB (they delete an O(history-index)
exchange per micro-batch).

## Round-9 streaming-ingest scale fix (the r8 VERDICT's top ask)

The r8 design ran `.distinct()` over the FULL history index on every
micro-batch (an O(history-index) exchange per batch, forever) and the
indicator/anti joins would shuffle the index again once it outgrew
auto-broadcast.  Three changes, each pinned by a plan-spy test:

1. **Tail-only distinct** (`_read_state`): the compacted ``batch=-1``
   partition is duplicate-free by construction (compaction writes it
   from a full distinct), so it is unioned AS-IS; only the
   un-compacted tail partitions (a handful of micro-batches between
   compactions) are distinct'd.  Pinned structurally: Union ABOVE the
   aggregate in the read plan.  Compaction's own read keeps the
   global distinct — its output becomes the next ``batch=-1``.
2. **Duplicate-tolerant fuzzy indicator** (`dedup_incremental_fuzzy`):
   the order-key uniqueness guard counts per-id band rows BEFORE the
   indicator join, so crash-leftover duplicate index rows fan the
   join without changing verdicts or tripping the guard, while every
   duplicate order key — byte-identical docs included — still raises
   with an exact multiplicity in the message.  (The first r9 draft
   counted post-join DISTINCT slots, which was blind to byte-identical
   duplicate ids; the round's code review caught it and the pre-join
   count closes both cases.)  The pre-join window's per-id exchange is
   the same one the post-join verdict window needs — broadcast index
   joins (Catalyst small-index, or any index via broadcast_probe)
   preserve the partitioning between them, so those paths pay no
   extra exchange; only plain mode over an above-broadcast-limit
   index pays one, and that is the regime broadcast_probe replaces.
   Measured at parity in the sample_mix stage bisect.
3. **Broadcast-probe joins** (`broadcast_probe=True`, the ingest
   default): the bounded batch's distinct key set is broadcast INTO an
   inner probe of the index, and the anti/indicator join runs against
   the (batch-sized) hit set, also broadcast.  The index crosses the
   plan as a SCAN ONLY — no Exchange, Sort, or HashAggregate ever
   touches the index subtree (plan-spy pinned; verdict parity with
   the plain mode test-pinned).  This is the Spark-native equivalent
   of bucketing the index on its join key, without requiring a
   metastore table: per-batch cost is one index SCAN (parquet,
   column-pruned to the key columns) + O(batch) work, instead of an
   O(index) exchange.  Probe-vs-plain routing is automatic in
   ``ingest_dedup_batch`` alone: plain while the on-disk index is small
   (the plain join auto-broadcasts it), else probe mode while the raw
   batch is under the shared key cap (``core.sizing.BROADCAST_KEYS``,
   2M keys; ``cap / bands`` rows for the fuzzy operator), plain join
   above it, so an unbounded backfill "batch" pays one batch+index
   exchange instead of OOMing the broadcast.  ONE bounded count on
   the RAW batch sizes both operators: a count inside the fuzzy stage
   would re-evaluate the unmaterialized exact-dedup output (a second
   scan of the digest index per micro-batch).  The operators take
   ``broadcast_probe`` as True or False only; any other value raises
   instead of coercing truthy into an unbounded broadcast.  Why not
   `bucketBy`: Spark bucketed writes
   require `saveAsTable` (a metastore), while the ingest state is
   deliberately path-based parquet (portable, overwrite-by-batch-id
   retry semantics); a deployment with a metastore can still register
   the compacted partition as a bucketed table and get scan-side
   co-location on top.
4. **Staging-swap compaction** (late r9): ``compact_ingest_state``
   writes the merged index to a SIBLING staging dir and swaps it into
   ``batch=-1`` (stage / remove / rename / remove-sources ordering) —
   the earlier design localCheckpointed the full merged index (~180 GB
   in block managers at 10^9 docs) solely to avoid overwriting its own
   input.  Every crash window resolves (stale staging consumed; a
   missing ``batch=-1`` is re-derivable because the folded sources
   outlive the swap; post-rename duplicates are tolerated by design) —
   pinned by a crash-window test.
5. **Incremental SEMANTIC dedup** (late r9) completes the dedup
   matrix — exact / fuzzy / semantic, each in batch AND incremental
   form: ``dedup_incremental_semantic`` drops a new doc iff cosine >=
   threshold to any indexed vector in the same INJECTED-quantizer
   cell (a per-batch re-fit would shift cell boundaries), with greedy
   first-wins batch dedup under the fuzzy path's conservative
   over-drop convention.  The index stores unit vectors
   ``partitionBy(cell)`` (~8 x dims B/doc); the per-batch read
   filters to the batch's touched cells (<= n_centroids values), which
   partition pruning turns into "untouched history is never read" —
   plan-spy pinned — and the per-cell chunked matmul costs
   O(batch x cell occupancy), never O(history).  Duplicate index rows
   are tolerated at every tier (max cosine is idempotent), so its
   ingest read path skips even the tail distinct.  Wired into
   ``ingest_dedup_batch(semantic_centroids=...)`` as the opt-in third
   family with ``semantic/batch=N/cell=M/`` state.

## Round-9 scale probes (judge ask #4: second decades)

All four remaining one-decade entries got their 100x point
(BENCH_SCALE.json): `dedup_lsh_pairs` second decade **2.77x**/decade
(band-bucket equi-join, sublinear), `decontaminate` **11.7x**
(near-linear: the 8-gram overlap + broadcast-matmul stages are
corpus-linear by design; no quadratic term), `stream_dedup` **7.66x**
(dropDuplicatesWithinWatermark state stays O(keys-in-horizon);
parquet sink), `dedup_simhash_128` **7.16x** (the wide tier's 32-bit
bands keep buckets tiny — the curve tracks the 64-bit gate's as
predicted by the band-occupancy math).

And the r9 ingest design claim measured DIRECTLY
(`ingest_history_sweep`): a FIXED 5k-doc batch (word-tagged disjoint
from every history, so survivor counts stay constant) run through the
full `ingest_dedup_batch` — index reads, both dedup operators,
survivor + index writes — against 1x / 10x / 100x histories costs
4.18 / 5.85 / 4.68 s: **1.12x the per-batch cost at 100x the
history — flat.**  Per-batch cost is O(batch); a rescan design would
be ~100x, and an O(history-index)-exchange design (the r8 shape the
round removed) would grow with the index.

## Round-9 per-source quality-threshold calibration (functions/calibrate.py)

`calibrate_thresholds` / `select_top_fraction` — the "keep the best
X% of each source" cut between quality scoring and token budgeting.
Exact tier (the text_stats gate fold, retain=0.5 on model_q_score):
threshold = k-th LARGEST score, k = ceil(retain*n - 1e-9); the rank
window and per-group count window share one hashpartitioning(group),
so the slim (group, score) projection crosses exactly ONE exchange
(plan-pinned).  Approx tier (the 100 TB default): percentile_approx
at quantile 1-retain — Spark's Greenwald-Khanna sketch, mergeable
and map-side partial, KB-sized exchange regardless of group size,
rank error <= n/accuracy.  Join-back broadcasts the one-row-per-group
thresholds; the corpus side never exchanges.  Deliberate two-scan
shape: the threshold branch re-evaluates lineage column-pruned to
(group, score) — at 100 TB a second narrow scoring scan is cheaper
than the single-frame alternative (a rank window that would
exchange+sort full-width rows, text included).  NaN normalizes to
NULL on BOTH the calibration and filter sides (Spark orders NaN above
every double — a raw `NaN >= t` would leak NaN rows).  text_stats
gate cost: +1 slim exchange + 1 KB broadcast on top of the family's
budget (pin updated to <=5).

## Round-9 web hygiene + compression-ratio signal

`UrlHostMapper` / `DomainFilterMapper` (functions/web.py): host and
registered-domain extraction is pure JVM regexp (scheme stripped
FIRST — a single combined regex backtracks "http://" into host
"http"), with a plausibility gate so free text's first word never
parses as a host.  Registered domain approximates the public-suffix
list with a built-in second-level set (co.uk &c), documented; exact
PSL deployments broadcast their own snapshot.  Filtering: small lists
fold to an `isin` literal INSIDE the scan's pushed filters (no join
node at all — plan-pinned); anything bigger broadcast LEFT ANTI/SEMI
joins on the domain, corpus side exchange-free.  NULL domains: kept
by blocklists, dropped by allowlists — exactly the NULL-key join
semantics, no extra predicate.  Per-domain caps are NOT duplicated
here: compose with quota_sample (WindowGroupLimit).

`CompressionRatioMapper` (functions/textstats.py): zlib ratio of the
utf-8 text — the MassiveText repetitiveness signal that catches
paragraph-granularity boilerplate the word/2-gram stats miss.  One
Arrow-batched pandas UDF around stdlib zlib (one C call per doc) —
the legitimate Python-tier case, since Catalyst has no DEFLATE
expression and DuckDB none either (hence unit-only: the replay test
is bit-exact against python zlib).  Plan stays narrow
(ArrowEvalPython, zero exchanges, pinned).  Empty/NULL text -> NULL
(zlib's 8-byte header would otherwise score empty docs at ratio 8).

## Round-11 incremental BPE fit (r10 VERDICT ask #2)

fit_bpe_merges' driver loop now maintains pair counts incrementally:
exact counts dict + a pair->word-index SUPERSET inverted index (stale
members cost a no-op subtract/add, never correctness) + a
lazy-deletion heap of (-count, pair) entries validated against the
live count on pop.  Each merge touches only words containing the
merged pair, so cost is O(occurrences), not O(types x word_len) per
merge.  Selection rule unchanged (max count, lexicographic tiebreak,
stop below 2) => merges bit-identical to the from-scratch recount,
pinned by a replay test on a deep random corpus plus the textbook
hand-derivation.  Wall time: num_merges=8000 over a 50k-type
zipf-weighted vocab = 7.4 s driver-side (measured on the committed
loop source); the recount formulation was hours at that depth.  The
Spark side is unchanged: ONE word-count exchange + one TakeOrdered.

## Round-11 dsir_select driver-budget auto-slim (r10 VERDICT ask #1)

The direct Gumbel path's TakeOrderedAndProject merges k FULL rows on
the driver — at k=1e7 over kilobyte docs that's ~a TB.  dsir_select
(slim=None) now compares k x a deliberately pessimistic static row
width (strings 64 B, containers 64 elements — _estimated_row_bytes)
against driver_budget_bytes (256 MiB default).  Over budget: the
draw runs on a (id, logw) projection — the TakeOrdered holds slim
rows only, plan-spy-pinned — and the k winner ids broadcast-LEFT-
SEMI-join back against the weighted corpus (one extra narrow scan,
the documented trade).  Winner SET identical on both paths (the draw
is a pure function of id+weight+seed; slim==direct equality tested);
slim-path row order unspecified.  The duplicate-winner guard now
wraps id_field AND weight_field, so the id-only projection cannot
prune it (r10 ADVICE #2).

## Round-11 fuzzy ingest gate (r10 VERDICT ask #4)

streaming_ingest_fuzzy (registry slot 50) drives ingest_dedup_batch
fuzzy=True over three batches whose cross-batch reposts carry one
APPENDED word — invisible to the digest phase, decided by the
MinHash band index, with compact_ingest_state(fuzzy=True) between
batches 1 and 2 so batch 2 reads bands through the compacted
tail-union path.  The oracle generates the full sequential
recurrence in SQL (per batch: digest anti-join + first-wins, 16-slot
coefficient-shared MinHash over 3-shingles, band-history drop,
per-band min-doc_id greedy banding, survivor-only index extensions).
Short reposts whose extra shingle shifts a band minimum legitimately
survive; both engines must agree on exactly which — that agreement
is the gate.

## Round-11 clean-host bench of record (r10 VERDICT ask #3)

BENCH_CLEAN_r11.json: full 50-query bench, 5 reps/query (bench.py's
default is now 5 — three reps let warmup outliers through often
enough that rounds 8-10 each carried 1.3-1.4x phantom regressions),
per-query MIN, run at 1-min loadavg 0.82 with rep arrays + loadavg
start/end now embedded in the stdout JSON itself.  Result: total
61.61 s; shared-49 geomean vs BENCH_r10 = 0.982.  The +-5%
explanation the ask demanded: a SECOND same-code 5-rep run in this
session has geomean 0.977 against the first — i.e. the measured
0.982 sits inside the same-code repeatability floor of this host, so
round-over-round parity is the finding, with no per-query delta
attributable to code.  The one changed-code query, dsir_select
(guard now wraps id_field too), was A/B'd in matched isolated 5-rep
runs: old min 1.446 s vs new 1.533 s (+6%, inside the rep-spread
width); its full-bench swing 1.24 -> 1.94 s is bench-context
pressure (same signature as the r9 forensics: sample_mix spans
4.9-6.3 s within one run on identical code).  Standing conclusion:
on this host only matched isolated A/B runs can attribute deltas
under ~40% to code; BENCH_r{N}.json totals are for trend, not
attribution.

## Round-11 scale probes (r10 VERDICT asks #5, #6, #8)

All in BENCH_SCALE.json, same constant-density blowup discipline.

* text_stats re-probed with 3 MATCHED reps at every decade (the r10
  split was computed from 2-rep 10x vs 1-rep 100x points and came
  out below 1): 6.22 / 7.38 / 56.16 s -> first decade 1.19x
  (overhead-dominated), second decade 7.61x — STABLE and
  sub-linear-to-linear; no growing term beyond the scan.  Ask #8
  closed with a stable number, not a named term.
* diversity_select (the D4 certification tail): first mismatched-rep
  probe showed the same pathology (100x below 10x); re-probed with 3
  matched reps: 0.67 / 1.37 / 9.65 s -> second decade 7.06x,
  near-linear.  The one exchange on the cell key holds through 200k
  vectors; scoring stays a narrow Arrow matmul.
* profile_corpus: 1.34 / 2.16 / 3.91 s -> second decade 1.81x, flat
  as designed — ONE global aggregate with per-COLUMN output means
  the exchange is KB-sized at every scale; the slope is the parquet
  scan plus the KMV second job.
* join_attributes: 0.43 / 0.47 / 0.89 s with the key cap at 100k so
  the flip lands inside the sweep.  The probe now records TWO facts
  per scale: the OPERATOR tier (its limit-probe decision:
  broadcast/broadcast/plain as sidecar rows go 5k/50k/500k — the
  designed flip) and the PLAN join (broadcast at all three points:
  above the operator's cap Catalyst's own autoBroadcastJoinThreshold
  still broadcasts the 8 MB sidecar, which is the right plan and not
  the operator's doing; the operator-tier routing itself is pinned
  with auto-broadcast DISABLED in tests/test_attributes.py).  First
  probe conflated these two facts; the artifact now separates them.

## Round-11 stratified Gumbel draw (gumbel_top_k_grouped)

The data-recipe gap between the global draw and per-source quotas:
one independent Gumbel-top-k PER GROUP, so a large high-weight
source cannot starve small ones.  Same seeded md5-derived noise
(partition-layout-invariant, SQL-replayable as ROW_NUMBER over
PARTITION BY group ORDER BY key DESC, id), same in-plan NULL
raises.  The literal rank filter compiles to WindowGroupLimit —
per-partition top-k BEFORE the one group-key exchange, never a
global sort (plan-pinned).  The global path's duplicate-winner guard
is deliberately NOT applied: there it rides the already-single-
partition TakeOrdered output for free, here it would need a second
per-group sort that is not free — id uniqueness stays the caller's
contract, as documented.  Driver-gated via a fold into dsir_select
(a second 'grouped' stage, 20 per source, same weights + seed; the
oracle replays it as ROW_NUMBER over the shared Gumbel-key CTE) —
a deliberate small bench-cost buy on that gate (the grouped window
over the already-scored frame; the fits are shared).

## Round-11 Bloom membership sketch (functions/bloom.py)

The cheap tier between "no index" and "exact anti-join": Spark's own
bloom_filter_agg/might_contain are unregistered internal expressions
(runtime-filter machinery), so this is public-API DataFrame algebra
in the repo's portable-md5 convention.  Positions are
Kirsch-Mitzenmacher double hashing from ONE md5 per key (h1 =
md5[0:8], h2 = md5[8:16]|1, pos_i = (h1 + i*h2) % m) — bit-for-bit
replayable in python AND DuckDB (both test-pinned).  Fit: explode k
positions, group by word index (pos >> 6), bit_or the masks —
map-side partials fold before the ONE exchange, and the collect is
bounded at num_bits/64 rows.  Probe: position arrays compute
JVM-side (codegen), the bitmap rides one Arrow pandas UDF doing a
vectorized numpy gather — narrow, zero exchanges (plan-pinned).
Sketch = bounded driver artifact (128 MiB cap ~ 1e8 keys at 1% FPR);
past that, keep m fixed and let FPR degrade — saturation**k is
monitorable, false positives only cost exact confirms, false
negatives impossible for covered keys.  Mergeable via OR (merge ==
fit-on-union, test-pinned), so ingestion ORs a per-batch fit into
the running sketch at commit time.  sample_mix uses it to flag
survivors against the history digest index.  An earlier dedup
prefilter built on it (dedup_incremental(bloom=)) was removed: the
BENCH_SCALE bloom_backfill probes measured it slower than the plain
exact join in 7 of 8 cells on one node, and a stale sketch silently
re-admitted duplicates.

## Round-11 UrlHostMapper custom PSL (r10 VERDICT ask #7)

suffixes= accepts a sequence or one-column DataFrame snapshot of
plain public-suffix entries at any label depth.  The snapshot is
dimension metadata: bounded (max_suffix_entries, default 100k; the
real PSL is ~10k), collected once, compiled into per-depth isin plan
literals checked deepest-first — the registered-domain cut still
rides the scan with zero joins and zero exchanges at any corpus
size.  Wildcard (*.ck) / exception (!www.ck) PSL rules are refused
loudly rather than approximated.

## Round-11 hypertable rollups (functions/rollup.py)

Continuous-aggregate design: every stored statistic merges (count /
sum / min / max / non-null count; avg is DERIVED sum/n because stored
averages don't merge; distinct counts are KMV registers — the k
smallest distinct md5-60 hashes, array<bigint> — because
COUNT(DISTINCT) doesn't merge and registers do: sorted distinct
union re-truncated to k, associative + commutative).  rollup_events
is ONE corpus-wide exchange with map-side partials; requesting
registers adds a SLIM side plan — project (bucket, keys, hash),
distinct, row_number <= k per group (WindowGroupLimit pushes the
partial top-k below that exchange, so map tasks forward <= k rows
per group) — folded back by UNION + re-aggregation, not a join: a
null-safe join would re-exchange BOTH sides on coalesced keys, and
groupBy treats a NULL key as just a group.  Every exchange past the
first two carries rollup-sized rows.  Coarser granularities cascade
from finer ROLLUPS (hour -> day -> month), never raw events, with
nesting validation (month-from-week would fold boundary-spanning
weeks wholly into the earlier month).  The raw input is scanned
twice when registers are requested (stats scan + a column-pruned
hash scan) — the deliberate trade against an O(per-group-distinct)
collect_set that OOMs on a billion-user bucket.

Incremental state reuses the ingest layout (per-batch partial
parquet partitions, overwrite-by-batch-id idempotent retries,
staging-swap compaction, newest batch never folded) with the
exactly-once machinery SUMS need where dedup indexes tolerate
duplicates: `_folded.json` inside `batch=-1` lists the batch ids the
compacted partition absorbed and publishes ATOMICALLY with the data
via the same directory rename (leading underscore = invisible to
parquet readers); reads exclude listed partitions, so the
rename-done/delete-pending crash window reads exactly-once instead
of double-counting.  A recovery pass finishes a swap that crashed
between removing the old batch=-1 and renaming the staged
replacement (the staged dir, gated on _SUCCESS, is the only copy of
previously-compacted rows at that point — the same window silently
loses DERIVED index rows in the ingest design, where it is
recoverable-by-rescan; for rollups it is not, hence the hard
recovery).  Gate: windowed_event_counts' rollup_day stage drives
ingest -> compact -> read -> hour->day cascade -> estimates against
a raw-events date_trunc oracle incl. a bit-exact HUGEINT replay of
the k=48 register estimator (both branches live at sf0.01:
per-(day, event_type) distinct users span 42..67).

## Round-11 session-2 bench budget (deliberate gate-cost buys)

Two gates got materially heavier this session, by design (min-of-5
isolated reps at sf0.1, vs BENCH_CLEAN_r11 values):

- windowed_event_counts 0.34 -> 3.28 s: the gate now drives the
  FULL incremental rollup lifecycle (three rollup_ingest_batch
  parquet writes, a compact_rollup_state staging swap, the merged
  read, the hour->day cascade, estimates) rather than a single
  in-memory aggregation.  The added seconds are mostly the five
  parquet state round-trips — the thing the gate exists to certify.
- dedup_exact 0.26 -> 0.93 s: + the corpus snapshot diff (derived
  v2 snapshot build, full-outer join, dedup join-back).
- asof_join 0.55 -> 1.01 s (session 4): + the interval_join batch
  tier ('interval' stage — the multi-match generalization the as-of
  join truncates; its streaming tier is certified by the
  equivalence tests + the interval_join_stream probe).
- combine_sources 0.38 -> ~1.0 s (session 4): + the schema-evolution
  'evolved' stage (two tmp generation-snapshot writes + the aligned
  two-scan read) — the drift-read semantics the fold certifies.
- io_roundtrip 1.30 -> 2.49 s (session 4): + the Z-order layout
  roundtrip (bounds fit scan, range-sampled exchange, clustered
  parquet write, read-back join — certified value-for-value against
  the first-principles Morton oracle) + the retention fold (a
  forget-list apply_deletions staged-swap rewrite of that clustered
  copy; the oracle's WHERE tail catches ghost rows and
  over-deletions both).  The gate is now the full storage-lifecycle
  certification: sink -> loader x3 formats, clustered write, in-place
  governed rewrite.

Gate-set total grows ~+4.8 s across the session; every other query
is untouched (their modules did not change).  Same trade as the r9
streaming_ingest gate (+3.8 s): lifecycle gates cost real I/O and
buy end-to-end certification of the state machinery.

Session-4 refreshed bench of record (BENCH_CLEAN_r11.json, idle
host, 5 reps/query, per-query MIN): total 74.10 s vs the pre-fold
61.61 s record.  The delta decomposes into exactly the documented
fold buys — windowed_event_counts 0.34 -> 3.21 (rollup lifecycle,
session 3), dedup_exact 0.26 -> 0.66 (snapshot diff, session 3),
io_roundtrip 1.30 -> 2.15 (Z-order + forget-list roundtrips),
combine_sources 0.38 -> 0.89 (schema-evolution stage), asof_join
0.55 -> 0.83 (interval_join batch tier) — while the shared geomean
against the mid-session intermediate record is 1.06 with load
1.8-3.0 (host-noise band): parity everywhere the code did not
deliberately buy certification depth.

Probe-integrity note: a code-review pass caught the bloom probe
sections leaking adaptive.autoBroadcastJoinThreshold=-1 into any
LATER same-process measurement (the restore was conditional on the
key having had a prior value).  Fixed; and the recorded
BENCH_SCALE.json numbers are unaffected — the deep-phase entries
were captured in runs that predate the bloom sections entirely, and
every bloom run used a restricted `only` selection that skips the
deep phase.

## Round-11 corpus snapshot diff (functions/diff.py)

Release-audit diff of two keyed snapshots: ONE full-outer
plain-equality join on the key — each corpus side exchanges exactly
once, and the duplicate-key count-window guard rides that SAME
partitioning (plan-asserted: Exchange count == 2).  All field
comparisons are JVM-side null-safe equality on the joined row, so
Catalyst prunes both scans to key + compared columns; per-field
change attribution is an in-plan array_compact fold in sorted name
order (SQL-replayable via concat_ws over IS DISTINCT FROM cases).
NULL keys raise loudly — raising is what KEEPS the join on plain
keys: a null-safe join would hash-partition both corpus-sized sides
a second time on coalesce-wrapped keys (measured on the rollup
register join before it was rewritten to union-merge: +2 exchanges
+ a self-join ambiguity hazard).  Gate: folded into dedup_exact —
a derived v2 snapshot (1/7 removed, 1/5 edited, 1/13 re-added under
shifted ids and a new source) diffed against documents, dedup
verdicts joined onto the diff rows.

## Round-11 Count-Min sketch (functions/cms.py)

Approximate per-key frequency completing the mergeable-sketch
family (KMV distinct / Bloom membership / CMS frequency).  Fit is
ONE exchange on the (row, counter) key with map-side partial sums,
then a collect bounded by depth x width GEOMETRY, not the corpus;
merge is element-wise addition (per-batch incremental maintenance,
the Bloom OR-merge shape); estimates are JVM-side position math +
one vectorized-numpy Arrow gather, zero exchanges.  One-sided error
(never undercounts) makes "estimate >= threshold, then ONE exact
candidate-filtered confirm pass" a sound MERGEABLE replacement for
the freqItems probe in the core/skew.py hot-keys pattern — relevant
when candidates must accumulate across micro-batches, where
freqItems (not mergeable, item-set-only) cannot carry state.
Counter indexes are the repo's md5-KM convention, byte-portable to
DuckDB (count replay test-pinned).  No driver gate by design: the
registry is at its 50-slot cap and the DuckDB replay already pins
the SQL story bit-exactly.

## Round-11 physical layout (sources/layout.py)

At 100 TB most query cost is the scan, and the scan's cost is set at
WRITE time.  Three levers, one module:

* `optimize_layout` — Z-order (Morton) clustered parquet writes.  The
  Z-key is pure Catalyst bit algebra (unrolled shift/mask OR-terms,
  whole-stage-codegen friendly, no UDF); the integer tier is EXACT
  arithmetic (DECIMAL(38,0) `DIV` in Spark, HUGEINT `//` in DuckDB),
  so Spark == DuckDB == Python bit-for-bit — certified value-for-value
  by the io_roundtrip gate fold, whose oracle recomputes every key
  from first principles (SQL min/max bounds CTE + the SAME
  generator-emitted interleave expression, so operator and oracle
  cannot drift).  Plan shape: the ONE `repartitionByRange` exchange a
  clustered write inherently needs, then a narrow
  `sortWithinPartitions`.  Bounds come from one exact min/max
  aggregate (KB result) or are caller-pinned for append-stable keys
  across snapshots.  Measured on a 20k-row uniform 2-D corpus, a 10%
  range predicate on EITHER dimension skips ~75% of rows after
  Z-ordering vs 0% for a random layout (test-pinned > 50%).
* `scan_stats` / `skip_fraction` — the honest meter: footer min/max
  envelopes read DISTRIBUTED (file list as a DataFrame, pyarrow
  footer reads inside `mapInPandas` — millions of files at 100 TB
  rule out a driver loop), folded to the fraction of rows a range
  predicate is entitled to skip.  Conservative by construction:
  stat-less row groups never count, so reported skipping is a lower
  bound and false skips are impossible (property-tested against
  actual row-group contents).
* `compact_dataset` — the small-files answer with ZERO exchanges: the
  byte target goes into `spark.sql.files.maxPartitionBytes` (with
  openCost lowered and minPartitionNum pinned to 1, both restored
  set-or-unset afterward — the scale_probe conf-leak lesson), so the
  file-source SCAN bin-packs splits to target size and each task
  writes exactly one file; `repartition(n)` would shuffle every byte
  for the same result.  Staging-`_SUCCESS`-`os.replace` swap (the
  streaming/ingest.py pattern); the one crash window is repaired by
  `recover_compaction_swap` at every entry.  LOCAL-only by design:
  object stores have no atomic rename — the refusal names the
  write-new-prefix + pointer-flip recipe instead.

Partition transforms (`days`/`hours`/`bucket_by_md5`) give the
directory-pruning tier above file-level skipping; the bucket
transform uses the portable md5-60 convention so a re-written
snapshot buckets identically on any engine (F.hash would not survive
an engine or seed change).  `read_with_provenance` exposes Spark's
`_metadata` (file_name, row_index) as durable row lineage for audits.

Scale probe (BENCH_SCALE.json `layout_optimize`): the clustered
write measured 1.04/1.42/1.69 s at 1x/10x/100x documents — second
decade 1.2x (fixed costs dominate at this volume; the terms are all
linear: fit scan, range sampling, one exchange, narrow sort, write).
The VALUE held steady: a mid-range 10%-wide predicate could skip
0.609/0.611/0.577 of rows across the three decades — clustering
quality does not decay with volume.  Its level is the 2-D envelope
math (64 files over 2 dims = ~12.5% file span per dim), not a flaw:
a 1-D sort would skip ~0.9 on one column and nothing on the other.

## Round-11 data governance (sources/retention.py)

The two deletion shapes a 100 TB corpus operator runs.  Forget lists
(`apply_deletions`): ONE LEFT ANTI join per rewrite — broadcast tier
under a bounded `limit(cap+1).count()` probe so the corpus side never
exchanges, plain shuffled anti-join above it; NULL forget keys raise
loudly (an anti-join can never match NULL — the "deletion" would
silently no-op otherwise); hive partitioning is preserved through the
rewrite, and `partition_scope=` restricts the read AND rewrite to the
named partition directories — the 100 TB lever, since a scoped
takedown touches only the partitions it names while every other byte
stays on disk untouched.  Row accounting comes from parquet footers
(before/after), zero extra count scans; the swap is the shared
staging-`_SUCCESS`-`os.replace` pattern with its crash window
repaired at every entry.  Retention windows
(`drop_partitions_older_than`): expiry as DIRECTORY deletes over the
sortable `field=value` names the layout `days`/`hours` transforms
write — zero bytes scanned, zero Spark jobs, idempotent per-dir
removal, `dry_run` tier for automation.

## Round-11 stream-stream interval joins (streaming/joins.py)

The enrichment shape batch as-of/range joins cannot serve: match
events across two UNBOUNDED streams within an event-time interval.
The helper's value is the state contract — watermarks on both sides
plus the two-sided time-range condition are always installed, so
Structured Streaming can expire join state (bounded by (interval +
watermark skew) x arrival rate) and close unmatched rows for the
outer modes.  Without them Spark ACCEPTS the inner join and grows
state forever — the failure mode the helper exists to make
impossible.  The same call runs on batch frames (watermarks no-op),
and the tests pin streaming == batch through a real two-stream
multi-micro-batch replay.  Operational trap pinned by test: the
global watermark is the MIN over streams, so a quiet side stops all
interval closure — sparse feeds need heartbeats (or the max policy
and its drop risk).  `stream_static_enrich` covers the
stream-static tier: no state, broadcast-hinted dim, with the
per-micro-batch dim re-evaluation caveat documented.

## Round-11 schema evolution (sources/evolve.py)

Reading across years of snapshot generations written under drifting
schemas.  Measured finding that drives the design: parquet
`mergeSchema` unions column SETS but REFUSES same-column TYPE
changes (int -> bigint raises CANNOT_MERGE_SCHEMAS on Spark 4.1) —
and a type widening across generations is exactly the drift being
read.  So `read_evolved` aligns each snapshot to the explicit
target schema and `unionByName`s: same bytes scanned as a merged
read, one scan node per snapshot, no exchange, target projection
pushed into every scan.  `align_to_schema` makes each silent
behavior an explicit policy — missing columns become typed NULLs or
raise; extras drop, keep, or raise; type changes pass only through
a safe-cast matrix (lossless widenings), RAISING on the lossy casts
Spark would silently truncate (bigint->int, double->float,
bigint->double past 2^53, string->number parse-nulls) unless the
caller forces them.  `schema_drift`/`drift_summary` see the drift
before any read: per-file physical schemas from parquet FOOTERS,
distributed exactly like the layout scan_stats audit.

## Round-12 sketch/audit gate folds (r11 VERDICT asks #1-#4)

The r11 "reasoned no-gate" components are now driver-certified, all
as folds (registry capped at 50):

* **Count-Min -> skew_salted**: fit over the per-order nationkey
  stream, per-key estimates ride the gate as `cms_orders`; width 32
  deliberately forces collisions so the one-sided OVERCOUNT branch is
  value-checked (2/25 keys overcount at sf0.01), not just the
  collision-free identity.  Oracle = the test-pinned DuckDB md5-KM
  counter replay + min-over-depth.
* **Bloom -> sample_mix**: fit over the history digest index, flag
  every surviving row.  Survivors all passed the exact anti-join, so
  True flags are exactly the sketch's deterministic false positives
  (21/88 at sf0.01 — both branches live); oracle replays fit (bit set
  from history positions) and probe (all-positions-set) in SQL.
* **Footer audit -> io_roundtrip**: scan_stats + skip_fraction run
  over the deletion-rewritten Z-clustered copy; skip accounting rides
  the gate as literal columns and DuckDB's `parquet_metadata()`
  recomputes the envelope math from the SAME physical files (2/4 row
  groups provably skippable at sf0.01).  The r11 refusal ("footers
  are not SQL-visible") was WRONG — parquet_metadata() closes it.
  Plumbing note: the driver materializes oracle STRINGS before any
  gate runs, so the clustered copy moved from mkdtemp to a pid-keyed
  fixed path the oracle can name ahead of the write (DuckDB reads the
  files only at execute time, which the drive sequences after the
  Spark run).
* **profile_corpus -> sketch_distinct**: a 'profile' stage audits
  three documents columns — nulls, stringified min/max envelopes,
  moments (rounded to 4dp: cross-engine FP summation order), avg
  string length, k=256 KMV distinct estimates — every field replayed
  in the oracle.  GK quantiles are the ONE field omitted
  (percentile_approx has no exact cross-engine replay): the r11
  whole-function refusal is narrowed to a single column.

BENCH_CLEAN_r12.json is the min of THREE same-code full 5-rep runs
(77.61 / 76.29 / 83.87 s) captured MID-round; two late gate folds
landed after it (pii_redact +URL-canonicalization stage,
sketch_distinct +exact-quantile columns).  Three post-fold full runs
all hit evening host drift (84.3 / 85.4 / 89.6 s with UNCHANGED
queries like streaming_ingest_fuzzy swinging 10.8->14.3 s, a 33%
same-code drift — the r9 forensics conclusion again), so the record
keeps the lowest-noise run and the late folds are priced separately:
same-evening isolated 5-rep mins put pii_redact at ~3.2 s and
sketch_distinct at ~3.2 s under load ~2 (vs 1.8 / 2.2 s pre-fold
under load ~1.4; the attributable fold content is the canon
expressions and the one extra rank-window job, both well under the
host drift).  Totals are for trend, not attribution.

SUPERSEDED provenance note (kept for honesty): the original text
below described the record before the late folds.

Bench budget of the r12 folds (clean 5-rep A/B vs BENCH_CLEAN_r11,
everything else in the noise band — shared-50 geomean 1.06 with all
of the delta in the four fold-carrying gates): skew_salted
0.44->~2.0 s (the CMS fit md5-hashes all 150k per-order keys — the
certified work; the fit reads a slim plain broadcast join rather
than re-evaluating the 8x-replicated salted plan, measured ~7%
cheaper warm and structurally non-double-evaluating), sketch_distinct
1.42->2.33 s (profile global aggregate + k=256 KMV over documents),
io_roundtrip 2.15->3.15 s (footer scan_stats + skip aggregation +
parquet_metadata-visible write), sample_mix 3.46->4.45 s (bloom fit +
Arrow flag + second history read).  Priced-in certification content,
the r11 convention.

Deep-probe tail closed the same session (BENCH_SCALE.json):
dedup_exact second decade 1.24x (the diff join is fixed-cost-
dominated even at 500k x 500k snapshot rows), pack_sequences 4.89x —
nothing superlinear anywhere in the file.

## Round-12 late additions (beyond the VERDICT asks)

* **Exact quantile tier** (functions/profile.py quantile_mode='exact'):
  the ceil(q*n)-th order statistic for every numeric column in ONE
  extra job — slim (cidx, value) pairs exchange once partitioned by
  column index, a shared row_number+count window pair marks target
  ranks in-plan, and <= columns x quantiles rows come back.  Folded
  into the sketch_distinct profile stage as q25/q50/q75/q99 with the
  oracle replaying the same rank CTE — the profiler now has NO field
  outside the oracle.  GK stays the mergeable 100 TB default; the
  exact tier's documented bound is one partition per column (the
  calibrate exact-tier trade).
* **UrlCanonicalMapper** (functions/web.py): canonical URL form for
  cross-crawl dedup keys — trim+fragment strip, scheme/host
  lowercase, scheme-default port drop, utm_*/named tracking-param
  filter, byte-order param sort, trailing-slash strip; schemeless
  passthrough; pure regexp/array algebra, zero exchanges.  Folded
  into pii_redact on synthesized crawl URLs exercising every branch;
  the tracking list is shared between mapper and oracle (the
  constants convention), and a 13-case unit corpus carries its own
  DuckDB replay.
* **hot_keys_cms** (core/skew.py): the mergeable heavy-hitter
  composition the CMS module documented — self-fit mode reproduces
  hot_keys exactly (no 1e-4 freqItems floor); running-sketch mode
  gives history-inclusive superset verdicts per batch without
  rescanning history (exact-confirm against a caller sketch is
  REFUSED: a batch-local count against a stream-total threshold
  would drop genuinely hot keys).  Geometry guard raises when
  e/width is not under support/2, keeping the candidate set
  support-bounded.

## Round-12 streaming_ingest_fuzzy job census (r11 VERDICT ask #6)

The gate is the bench's largest line (11.2 s at sf0.1).  A per-job
census (monkeypatched timers on count / collect / localCheckpoint /
write.parquet attributing each job to its smashed_spark call site,
warm lap first, run at the bench shape; `perfbench/run.py --trace 1`
now gives the same per-layer job attribution without patching)
decomposes the warm 11.3 s wall into:

* 6.2 s — the three per-batch `localCheckpoint`s (ingest.py:321),
  i.e. the actual dedup plan materializing: digest anti-join +
  16-slot MinHash over every batch shingle + band-index join.  This
  is the work being certified, ~2.1 s/batch, flat across batches
  (the broadcast-probe design keeps history out of the per-batch
  cost — the r9 sweep measured 1.12x at 100x history).
* 2.0 s — the three bounded per-batch writes (survivors ~0.35 s,
  digest extensions ~0.30 s, band extensions ~0.74 s; the band write
  re-expands carried signatures, never re-shingles — with_minhash_
  bands reuses the minhash column the fuzzy join computed).
* 0.65 s — the mid-run fuzzy compaction (two staged-swap rewrites).
* 0.33 s — the three capped sizing counts (`limit(cap+1).count()` on
  the raw batch, ingest.py:241) that route broadcast-probe vs plain.
  It cannot ride the index read (it sizes the BATCH, and runs before
  the index plan exists) and at 3% of wall is not worth a caller
  knob.
* ~2.1 s — untracked driver-side residue: per-batch plan
  construction/analysis on a 3-deep union + two dedup operators
  (py4j round-trips), spread across 19 jobs.

Verdict: no redundant job.  Every tracked second is either the
certified lifecycle itself (checkpoint + state commits + compaction)
or a bounded O(cap) routing probe; the gate's bench cost is the price
of running a full 3-batch stateful replay inside the correctness
harness, not a plan flaw.  Recorded as the irreducible floor.

## Round-11 plan linter (core/lint.py)

The design-for-scale checklist this repo's plan-spy tests apply to
every operator, published as an API a pipeline author can hold THEIR
composed plan to.  `plan_report` counts exchanges by kind, join
strategies, Python eval tiers (row-at-a-time vs Arrow), reads
per-scan pushdown visibility from the formatted explain (one block
per `Location:` line — a scan whose predicate is entirely
non-pushable, e.g. a Python-UDF filter, prints NO PushedFilters line
and must still surface as an empty-pushdown scan), and warns on the
100 TB failure patterns: cartesian/nested-loop joins, BatchEvalPython
in the plan (Arrow deliberately not warned — it is this engine's
documented legitimate tier), full-dataset global sorts
(TakeOrderedAndProject exempt), and filters running after IO.
`assert_plan` is the test-side contract (max exchanges, forbidden
nodes, warnings-free) raising with the offending plan excerpt.
Static analysis of the pre-runtime plan — what Catalyst INTENDS,
which is what review should hold opinions about; AQE may re-plan at
runtime.  Test-pinned gotcha: `range` output is already ordered by
id, so a monotone-key `orderBy` is ELIMINATED by Catalyst — sort
tests need a non-monotonic key.

## Round-13: object-store snapshot protocol (sources/snapshot.py)

The r12 VERDICT's #1 miss — compaction/retention unusable where
100 TB actually lives — closed by implementing the recipe the
in-place rewriters' refusals named: a minimal Iceberg/Delta-style
table protocol.  Data prefixes (`data/vNNNNNNNN-<token>/`) and
versioned manifests are IMMUTABLE; the commit is an atomic replace of
one tiny pointer object (`os.replace` locally, single PUT on s3).
Readers resolve via two GETs and scan the manifest's explicit file
list — never a prefix listing — so write debris, a racing publish,
and S3 LIST eventual-consistency are all structurally invisible to
reads.  Crash windows: pre-manifest and pre-flip debris is
unreferenced and vacuumable; "published" is defined as the pointer's
parent CHAIN (not numeric order), so an orphan manifest from a
pre-flip crash stays unpublished forever however many versions commit
after it (`drop_unpublished=True` opts into sweeping those).
Concurrent writers are DETECTED (not prevented — bare S3 has no CAS):
the manifest write refuses an existing manifest for its allocated
version (the silent-clobber case the first draft of the test suite
caught), and the flip re-checks the pointer hasn't moved.
Maintenance composes onto the protocol as publishes: compact_snapshot
(the zero-exchange packed-scan rewrite, conf now factored into
layout.packed_scan_conf and shared with compact_dataset),
apply_deletions_snapshot (probe-routed LEFT ANTI forget-list), and
optimize_snapshot (the Z-order rewrite; no partition_transforms tier
BY DESIGN — explicit-file-list reads do not infer hive partition
columns, so a partitioned prefix would silently lose them).
Sandbox seam, documented: no s3 Hadoop connector here, so the s3
tier's Spark write stages locally and uploads via io_utils — the
protocol above `_write_data_prefix` is byte-identical to the real
cluster's direct s3a write.

## Round-13 media-header tier (operators/multimodal.py)

PNG/GIF/canonical-WAV headers are fixed-offset struct parses, so
"multimodal metadata" needed no codec at all: `media_header_expr`
emits the parse (magic guards, BE/LE integer extraction, duration
arithmetic) in BOTH Spark SQL and DuckDB SQL from one offsets table;
MediaHeaderMapper compiles the Spark side into pure Column algebra
(whole-stage codegen; plan-spy pins zero Python evals), and the gate
oracle blob-slices the SAME bytes in DuckDB (hex-string slicing at
doubled offsets — DuckDB 1.0 has no blob substring; `'0x'||hex`
casts do the integer decode).  DeepMediaHeaderMapper is the stdlib
Arrow tier for variable-offset layouts (JPEG SOF marker walk,
word-aligned RIFF chunk walk).  The multimodal_binary gate grew a
distributed synth stage (real magic/offsets/CRC bytes, 6 branches
incl. truncated + garbage) written to a pid-keyed side parquet the
oracle re-parses — the synthesized JPEG's fixed layout makes even SOF
dimensions blob-sliceable.  The env-blocked multimodal row narrowed
to pixel/sample DECODE only.

## Round-13 matched-rep exoneration of the two steepest decades

The r12 watch items — decontaminate 11.7x and dedup_ngram_jaccard
10.85x second decades — were SINGLE-RUN 100x numbers.  Re-probed
under the matched 3-rep protocol (min-of-3 at every scale point, the
r11 text_stats fix, now applied via the `_MATCHED_REP_QUERIES` set):
decontaminate 8.46 s at 100x = 3.15x/decade, dedup_ngram_jaccard
29.1 s = 5.59x/decade — both SUBLINEAR.  The old 30.5 s / 84.3 s
points were warmup/noise outliers, the exact pathology the protocol
exists for; no PPJoin prefix-filter tightening is warranted on this
evidence.  Protocol note: any future probe whose first run looks
superlinear goes through matched reps before its verdict is trusted.

## Round-13 bench host-noise guard

BENCH_r11/r12 driver records were both captured at loadavg 6-8 and
overstated the engine ~18%.  bench.py now defends the record itself:
a bounded wait-for-idle loop (1-min loadavg < 4, 300 s cap, both
env-tunable) runs before any timing, and the output JSON carries
`host_noise: true` + `idle_wait_sec` whenever the cap expired on a
still-loaded host — a hot artifact is now self-identifying.

## Round-13 gate folds

- semantic_dedup += 'incremental' stage: dedup_incremental_semantic
  against a vec_id%3 history index under the SAME replayed injected
  quantizer; the conservative over-drop convention (drop vs ALL
  earlier same-cell batch rows, kept or not) is exactly what makes
  the oracle a plain double NOT-EXISTS instead of a sequential
  recurrence.  354 rows; 37 history-drops + 45 batch-internal drops
  live at sf0.01.
- sample_mix += 'temp_kept' flag: temperature_weights rates computed
  from real per-source token masses at alpha=0.5 — pow(x, 0.5) is
  the same glibc pow both engines call, so the oracle recomputes the
  rates AND the int(frac*2^32) hash thresholds bit-for-bit from
  SUM(n_chars).  With target=None the smaller source's rate is
  exactly 1.0 (kept whole; threshold 2^32 is always-true by
  construction) and the larger is sqrt-downsampled — 77/11 flag
  split at sf0.01.
- multimodal_binary += the header stage above.

Bench-budget note: the three folds price in as certification content
(semantic_dedup gains one Arrow assign + per-cell matmul over ~1/3
of embeddings; sample_mix one 2-cell aggregate + one membership
join; multimodal_binary a synth write + two header stages).
"""

out = ["# PLANS — physical plans of the headline queries",
       "",
       "Generated from the live Catalyst plans at sf0.001 (plan shape is",
       "scale-invariant; AQE adjusts partitioning at runtime).  `*` marks",
       "whole-stage-codegen'd operators.  Regenerate with",
       "`python tools/gen_plans.py`.", ""]
from smashed_spark.plans.queries_scale import q_revenue_nation


def _rollup_headliner(spark, sf_dir):
    from smashed_spark.functions.rollup import RollupSpec, rollup_events
    from smashed_spark.plans.registry import load as _load

    return rollup_events(
        _load(spark, sf_dir, "events"),
        RollupSpec(distinct=("user_id",), k=48),
        "hour",
    )


HEADLINERS_EXTRA = {
    "join_revenue_by_nation (unregistered r5; plan pinned in test_plan_quality)":
        (q_revenue_nation, "Dimension tables broadcast (no fact shuffle for "
         "the join); only the final small rollup exchanges."),
    "rollup_events+registers (r11; gated via windowed_event_counts rollup_day stage)":
        (_rollup_headliner, "Hypertable rollup with KMV distinct registers: "
         "main stats = one corpus exchange with map-side partials; the "
         "register side plan is slim (bucket, key, hash) distinct + "
         "WindowGroupLimit top-k, folded back by union + re-aggregation "
         "(no null-safe join); exchanges past the first two carry "
         "rollup-sized rows."),
}
def clip(tree: str, width: int = 200) -> str:
    # r7: the sample_mix chain inlines 16 minhash permutation lambdas
    # into one Project — a single 20 KB plan line.  The tree SHAPE is
    # the document; clip expression dumps past `width` chars/line.
    return "\n".join(
        ln if len(ln) <= width else ln[: width - 12] + " …[clipped]"
        for ln in tree.split("\n")
    )

for name, note in HEADLINERS.items():
    plan = explain(Q[name](spark, "/root/testdata/sf0.001"))
    tree = clip(plan.split("\n\n")[0])  # tree section only
    out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n```\n")
for name, (fn, note) in HEADLINERS_EXTRA.items():
    plan = explain(fn(spark, "/root/testdata/sf0.001"))
    tree = clip(plan.split("\n\n")[0])
    out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n```\n")
out.append(STATIC)
out.append(MANUAL_NOTES)
open("/root/repo/PLANS.md","w").write("\n".join(out))
print("written", len("\n".join(out)), "chars")
