"""Gate families, the timed workloads drawn from them, and what each
per-layer metric is predicted to move.

Every registered gate belongs to exactly one of the four families
below; ``check_coverage`` enforces that on every run, so a gate added
to the registry must be placed here before the benchmark runs again.

A timed workload is a handful of gates picked by measured time.  One
process at local[4] on a 4-vCPU VM (3 passes over all 50 gates at
sf0.1, so with the JVM well warmed) gave these warm-pass totals per
family: preprocess 31.7 s, curate 47.1 s, ingest 39.6 s, analytics
23.2 s.  The timed gates, with their warm time, its share of the
family's, their jobs per call and the share of their time spent
building the frame:

    gate                    family      warm s  share  jobs  build
    snapshot_lifecycle      ingest        6.5    16%    49   0.99
    streaming_ingest_dedup  ingest        3.9    10%    24   0.99
    diversity_select        curate        0.8     2%     3   0.34
    tokenize_wordpiece      preprocess    1.0     3%     3   0.15

In a fresh process the same gates take longer, the cold pass up to
several times as long: a run of either workload takes ~50 s (set-up
~16 s, cold pass ~17 s, two warm passes of ~6-7 s, output checks).
Comparing two commits takes 22 runs of each workload and must finish
within the hour, so a workload holds one to three gates and a run
makes two warm passes.  Left out for that reason: the analytics
family (session_stats alone adds ~14 s to a run, ~4 s of it its
output check) and text_stats (the only caller of ``fit_bpe_merges``;
its output check alone takes ~16 s).

``check_all.py`` runs every gate of every family once against its
oracle.
"""

from __future__ import annotations

FAMILIES: dict[str, tuple[str, ...]] = {
    "preprocess": (
        "flagship_preprocess", "tokenize_wordpiece", "fewshot_jinja",
        "masks_family", "truncate_family", "multiseq_family",
        "multiseq_stride_pack", "collate_pad_longest", "words_unicode",
        "encode_decode", "strider_locations", "unpack_explode",
        "cast_binarize", "filter_project", "contrib_squad",
        "pack_sequences", "pack_bins", "text_stats", "pii_redact",
        "multimodal_binary",
    ),
    "curate": (
        "dedup_exact", "dedup_lsh_pairs", "dedup_clusters",
        "dedup_simhash_pairs", "dedup_ngram_jaccard", "dedup_substring",
        "embedding_near_dup", "ann_cosine_topk", "ann_lsh_topk",
        "ann_ivf_topk", "semantic_dedup", "diversity_select",
        "dsir_select", "sample_mix", "decontaminate",
    ),
    "ingest": (
        "streaming_ingest_dedup", "streaming_ingest_fuzzy",
        "snapshot_lifecycle", "io_roundtrip", "combine_sources",
        "stream_dedup", "stream_sessionize",
    ),
    "analytics": (
        "agg_pricing_summary", "join_shipping_priority", "asof_join",
        "range_join", "session_stats", "windowed_event_counts",
        "sketch_distinct", "skew_salted",
    ),
}

# name -> (gates run in each pass, why the workload exists)
WORKLOADS: dict[str, tuple[tuple[str, ...], str]] = {
    "ingest": (
        ("snapshot_lifecycle",),
        "snapshot_lifecycle: 13 snapshot-table verbs, 49 driver jobs, 99% "
        "in build; 6.5 s warm, 16% of the ingest family; the only gate on "
        "sources.snapshot",
    ),
    "curate": (
        ("streaming_ingest_dedup", "diversity_select", "tokenize_wordpiece"),
        "dedup against on-disk state, a per-process centroid fit cache "
        "(cold differs from warm) and wordpiece; 5.7 s warm, 10%, 2% and "
        "3% of their families",
    ),
}


# The public verbs of sources/snapshot.py; calls between them count
# once, as the outermost verb
SNAPSHOT_VERBS = (
    "list_snapshots", "resolve_snapshot", "plan_snapshot_scan",
    "publish_snapshot", "append_snapshot", "publish_files_snapshot",
    "append_files_snapshot", "read_snapshot", "snapshot_history",
    "tag_snapshot", "list_tags", "delete_tag", "resolve_tag",
    "read_snapshot_changes", "snapshot_table_stats", "vacuum_snapshots",
    "compact_snapshot", "optimize_snapshot", "apply_deletions_snapshot",
    "merge_snapshot", "restore_snapshot",
)

# The layer functions the traced run wraps: (layer, module, attribute).
LAYER_TARGETS: tuple[tuple[str, str, str], ...] = (
    ("core.ship", "smashed_spark.core.ship", "ensure_shipped"),
    ("core.widen", "smashed_spark.core.parallel", "ensure_min_parallelism"),
    ("core.map", "smashed_spark.core.mapper", "SparkMapper.map"),
    ("core.map", "smashed_spark.core.pipeline", "Pipeline.map"),
    ("functions.fit", "smashed_spark.functions.similarity",
     "fit_centroids_sampled"),
    ("functions.fit", "smashed_spark.functions.similarity",
     "fit_ivf_centroids"),
    ("functions.fit", "smashed_spark.functions.bpe", "fit_bpe_merges"),
    ("streaming.ingest_batch", "smashed_spark.streaming.ingest",
     "ingest_dedup_batch"),
    ("streaming.compact", "smashed_spark.streaming.ingest",
     "compact_ingest_state"),
    *(("sources.snapshot", "smashed_spark.sources.snapshot", verb)
      for verb in SNAPSHOT_VERBS),
)


# Per-layer metrics: (name, unit, better, end-to-end metric it should
# move, workload where it should move most, where it should stay flat).
# Layer `.s` is self time and `.jobs` counts jobs whose innermost span
# is that layer's; a layer call made inside another call of the same
# layer is part of the outer one.  `plans.*` and `gate.*` cover a whole
# phase.  Unless the name says `cold`, a value is the median over the
# traced warm passes.
_PER_LAYER: list[tuple[str, str, str, str, str, str]] = [
    ("setup.import_s", "s", "lower", "setup_s", "all", "none"),
    ("setup.session_s", "s", "lower", "setup_s", "all", "none"),
    ("setup.warmup_s", "s", "lower", "setup_s", "all", "none"),
    ("setup.rss_mb", "MB", "lower", "setup_s", "all", "none"),
    ("plans.build_s", "s", "lower", "warm_s", "ingest", "curate small"),
    ("plans.jobs_build", "count", "lower", "warm_s", "ingest", "curate small"),
    ("plans.exec_s", "s", "lower", "warm_s", "curate", "ingest ~0"),
    ("plans.jobs_exec", "count", "lower", "warm_s", "curate", "ingest small"),
    ("plans.cold_build_s", "s", "lower", "cold_s", "ingest", "none"),
    ("plans.cold_exec_s", "s", "lower", "cold_s", "curate", "none"),
]
for _wl, (_gates, _) in WORKLOADS.items():
    for _g in _gates:
        _PER_LAYER += [
            (f"gate.{_g}.build_s", "s", "lower", "warm_s", _wl, "other workload 0"),
            (f"gate.{_g}.exec_s", "s", "lower", "warm_s", _wl, "other workload 0"),
            (f"gate.{_g}.jobs", "count", "lower", "warm_s", _wl, "other workload 0"),
        ]
_PER_LAYER += [
    ("core.ship.calls", "count", "lower", "warm_s", "all", "all"),
    ("core.ship.s", "s", "lower", "warm_s", "all", "all ~0 once shipped"),
    ("core.ship.cold_s", "s", "lower", "cold_s", "all", "none"),
    ("core.widen.calls", "count", "lower", "warm_s", "curate", "ingest 0"),
    ("core.widen.s", "s", "lower", "warm_s", "curate", "ingest 0"),
    ("core.map.calls", "count", "lower", "warm_s", "curate", "none"),
    ("core.map.s", "s", "lower", "warm_s", "curate", "none"),
    ("core.map.jobs", "count", "lower", "warm_s", "curate", "none"),
    ("functions.fit.calls", "count", "lower", "warm_s", "curate",
     "ingest 0"),
    ("functions.fit.s", "s", "lower", "warm_s", "curate", "ingest 0"),
    ("functions.fit.cold_calls", "count", "lower", "cold_s", "curate",
     "ingest 0"),
    ("functions.fit.cold_s", "s", "lower", "cold_s", "curate", "ingest 0"),
    ("streaming.ingest_batch.calls", "count", "lower", "warm_s", "curate",
     "ingest 0"),
    ("streaming.ingest_batch.s", "s", "lower", "warm_s", "curate",
     "ingest 0"),
    ("streaming.ingest_batch.jobs", "count", "lower", "warm_s", "curate",
     "ingest 0"),
    ("streaming.compact.s", "s", "lower", "warm_s", "curate", "ingest 0"),
    ("streaming.compact.jobs", "count", "lower", "warm_s", "curate",
     "ingest 0"),
    ("sources.snapshot.calls", "count", "lower", "warm_s", "ingest",
     "curate 0"),
    ("sources.snapshot.s", "s", "lower", "warm_s", "ingest", "curate 0"),
    ("sources.snapshot.jobs", "count", "lower", "warm_s", "ingest",
     "curate 0"),
    ("exec.jobs", "count", "lower", "warm_s", "all", "none"),
    ("exec.stages", "count", "lower", "warm_s", "all", "none"),
    ("exec.tasks", "count", "lower", "warm_s", "all", "none"),
    ("exec.task_p50_ms", "ms", "higher", "warm_s", "all",
     "tiny tasks mean a scheduling-bound pass"),
    ("exec.task_run_s", "s", "lower", "warm_s", "curate", "none"),
    ("exec.task_cpu_s", "s", "lower", "warm_s", "curate", "none"),
    ("exec.busy_share", "share", "higher", "warm_s", "curate", "none"),
    ("exec.no_task_s", "s", "lower", "warm_s", "ingest", "none"),
    ("exec.shuffle_write_mb", "MB", "lower", "warm_s", "curate", "none"),
    ("exec.shuffle_read_mb", "MB", "lower", "warm_s", "curate", "none"),
    ("exec.spill_mb", "MB", "lower", "warm_s", "curate", "none"),
    ("exec.input_mb", "MB", "lower", "warm_s", "all", "none"),
    ("exec.output_mb", "MB", "lower", "warm_s", "ingest", "curate ~0"),
    ("trace.overhead_share", "share", "lower", "none", "all", "all"),
]
PER_LAYER: tuple[tuple[str, str, str, str, str, str], ...] = tuple(_PER_LAYER)

END_TO_END: tuple[tuple[str, str], ...] = (
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_s", "s"),
)


def check_coverage(registered) -> None:
    """Raise unless every registered gate is in exactly one family, no
    family names an unregistered gate, and every gate a workload runs
    is in a family."""
    registered = set(registered)
    seen: dict[str, list[str]] = {}
    for family, gates in FAMILIES.items():
        for g in gates:
            seen.setdefault(g, []).append(family)
    problems = [f"{g}: in no family" for g in sorted(registered - set(seen))]
    problems += [
        f"{g}: in {len(fams)} families ({', '.join(fams)})"
        for g, fams in sorted(seen.items())
        if len(fams) > 1
    ]
    problems += [f"{g}: not registered" for g in sorted(set(seen) - registered)]
    for name, (gates, _) in WORKLOADS.items():
        problems += [
            f"workload {name}: {g} is in no family" for g in gates if g not in seen
        ]
    if problems:
        raise RuntimeError("gate coverage guard failed: " + "; ".join(problems))
