"""Benchmark runner (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints:
  {"metric": "...", "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes its FULL physical plan via the noop data source (no sink
cost, no driver collect — the honest way to time a distributed plan); the
timing loops live in tools/timing.py. Sections: headline, extras, scaling
(opt out with SPARK_GRAFT_NO_SCALING=1) and streaming (opt out with
SPARK_GRAFT_NO_STREAMING_BENCH=1).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from itertools import groupby

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from azeroth_data_platform_spark import harness
from azeroth_data_platform_spark.operators import adapters
from azeroth_data_platform_spark.operators import dedup as dd
from azeroth_data_platform_spark.plans.corpus_pipeline import run_corpus_pipeline
from azeroth_data_platform_spark.session import get_spark
from azeroth_data_platform_spark.streaming import drift as s_drift
from azeroth_data_platform_spark.streaming import ingest as s_ingest
from azeroth_data_platform_spark.streaming import mleval as s_mleval
from azeroth_data_platform_spark.streaming import ohlc as s_ohlc
from azeroth_data_platform_spark.streaming import stateful as s_stateful
from tools import timing

REPO = os.path.dirname(os.path.abspath(__file__))

# FROZEN headline set (established round 1): the benchmark metric must
# stay comparable across rounds, so new queries added in later rounds do
# NOT join this list — extend via a separate metric if needed. Excludes
# trivially-small serving reads; keeps every operator that moves data.
# Round 2+: consolidated driver names live in QUERIES; frozen legacy
# names resolve from ALL_QUERIES (same impls as round 1). Note the
# round-2 surface changes inside frozen names: the five per-item gold
# queries now include the ORM's item_name/icon_url broadcast denorm,
# and ts_token_stats / ts_language_id absorbed their sibling columns.
HEADLINE = [
    "a1_daily_market_summary",
    "a2_hourly_ohlc",
    "a3_rolling_zscore",
    "a3e_rolling_zscore_dense",
    "a4_sales_velocity",
    "a5_market_concentration",
    "a6_market_index",
    "a7_sector_trends",
    "a8_distinct_items",
    "j2_dim_enrichment",
    "o1_latest_daily_summaries",
    "p11_format_gold",
    "pj_json_kpis",
    "w_sessionize",
    "x_pivot_event_counts",
    "x_sector_rollup",
    "x_multiway_star_join",
    "x_topk_orders",
    "x_price_iqr_outliers",
    "dd_exact",
    "dd_ngram_jaccard",
    "dd_minhash_lsh",
    "dd_simhash",
    "dd_simhash_banded",
    "dd_embed_neardup",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ts_token_stats",
    "ts_quality_score",
    "ts_language_id",
    "ts_language_id_ngram",
    "ts_fingerprint",
    "tp_clean_corpus",
    "tp_train_sample",
]

# Deliberately-quadratic exactness baselines (documented verify-stage
# ops, not scale paths) — reported as their own metric line so they
# don't obscure the scale-path headline. The frozen total still
# includes them for cross-round comparability.
QUADRATIC = {"dd_ngram_jaccard", "dd_simhash", "dd_embed_neardup"}

# New-in-round-2 scale-path queries: timed and reported separately,
# NOT part of the frozen total.
EXTRAS = [
    "dd_embed_lsh",
    "dd_embed_lsh_banded",
    "ts_vocab_topk",
    "ts_tfidf_top_terms",
    "tp_decontaminate",
    "ts_repetition",
    "tp_pack_sequences",
    "tp_corpus_report",
    "ann_topk_lsh_multi",
    "ts_oov_ratio",
    "tp_chunk_documents",
    "tp_keep_best",
    "dd_semantic",
    "ts_pii_scrub",
    "tp_quality_prune",
    "dd_incremental",
    "ann_quantize_sq8",
    "ann_topk_sq8",
    "tp_pack_contents",
    "tp_decontaminate_bloom",
    "ann_pq_codes",
    "ann_topk_pq",
    "ann_topk_ivf_pq",
    "dd_exact_substring",
    "dd_remove_spans",
    "tp_mix_rebalance",
    "tp_mix_apply",
    "ts_pii_scrub_synth",
    "ts_perplexity",
    "ts_gopher_quality",
    "tp_dsir_weights",
    "mm_phash_dedup",
    "tp_bpe_merges",
    "tp_bpe_encode",
    "ts_hash_classifier",
    "ts_char_entropy",
    "tp_cluster_sample",
    "tp_line_dedup",
    "ts_gopher_repetition",
    "x_group_percentiles",
    "tp_ccnet_buckets",
    "mm_audio_segments",
    "tp_ccnet_sample",
    "x_incremental_gold",
    "w_funnel",
    "x_retention_cohorts",
    "x_hll_distinct",
    "x_cms_top_terms",
    "ts_perplexity_bigram",
    "x_table_stats",
    "x_histogram_quantiles",
    "ann_range_search",
    "tp_mix_temperature",
    "x_grouping_sets",
    "x_robust_outliers",
    "x_pagerank",
    "w_funnel_latency",
    "x_triangles",
    "x_scd2_history",
    "dd_containment",
    "tp_quality_calibrate",
    "x_hll_weekly_rollup",
    "x_scd2_asof",
    "x_monthly_rollup",
    "dd_cdc_segments",
    "tp_bpe_compression",
    "ann_knn_graph",
    "tp_leakage_safe_split",
    "x_dq_checks",
    "x_embed_centroids",
    "w_funnel_sessions",
    "x_asof_tolerance",
    "dd_doc_novelty",
    "tp_export_manifest",
    "mm_cdc_dedup",
    # round-6 additions (extras are not part of the frozen headline)
    "ts_pmi_collocations",
    "tp_global_shuffle",
    "ann_filtered_topk",
    "mm_resize",
    "a13_cusum_changepoint",
    "w_user_paths",
    "tp_seqlen_histogram",
    "ts_zipf_fit",
    "x_abtest_welch",
    "dd_jaccard_histogram",
    "a14_forecast_backtest",
    "x_skew_report",
    "x_benford_check",
    "dd_cluster_sizes",
    "ts_langid_confusion",
    # round-8 additions
    "x_ks_drift",
    "x_psi_drift",
    "x_kmv_overlap",
    "x_spearman",
    "x_emd_drift",
    "x_mannwhitney",
    "x_cramers_v",
    "x_psi_daily",
    "ts_auc_langid",
    "ts_lift_langid",
    "ts_pr_curve_langid",
    "ts_pr_summary_langid",
    "ts_auc_by_source",
    "x_winsorized_stats",
    "x_selfjoin_density",
    "ann_recall_report",
    "ts_langid_prf",
    "ts_auc_doclen",
    "ts_auc_hashclf",
    "ts_auc_hashclf_bucketed",
    "ts_auc_hashclf_by_source",
    "tp_contamination_attribution",
    "a18_theil_sen",
    "x_max_concurrency",
    "dd_recall_report",
    "o14_facet_counts",
    "dd_dup_stats_by_source",
    # round-11 additions (extras: diagnostics, not frozen
    # headline; the three r11 promotions already ride the list)
    "a19_mann_kendall",
    "a20_pettitt",
    "w_rfm_segments",
    "x_cohort_ltv",
    "tp_padding_efficiency",
    "a21_seasonal_mann_kendall",
    "x_rfm_migration",
    "w_funnel_wilson",
    "x_abtest_srm",
    # round-12 addition
    "x_exact_quantiles",
    "w_attribution_ushape",
    "x_gini_concentration",
    "x_markov_transitions",
    "dd_lsh_tuning",
    "tp_contamination_report",
    "w_top_paths",
    "ts_hashclf_drift",
    "tp_quality_curve",
    "x_cohens_kappa",
    "tp_shard_manifest",
    "a15_mad_outliers",
    "w_attribution",
    "a16_autocorrelation",
    "x_zorder_layout",
    "a17_dow_baseline",
    "x_activity_bitmap",
    "x_skipping_report",
    "x_zorder_ranked",
    "x_compaction_plan",
    "tp_sample_allocation",
    "w_attribution_multitouch",
    "w_attribution_decay",
    "x_fano_burstiness",
]

# Scale-growth probe subset, run at 10x the bench SF. CHEAP-FIRST
# ordering: the probe is budget-guarded and runs in list order — with
# heavies first, one slow stage starved every family added later
# (measured: the r8 statistical family never executed). Fast ops (≤2 s
# base) go first so every family lands a growth number; the heavies
# consume whatever budget remains (their truncation is visible via
# truncated=true).
SCALING_SUBSET = [
    # fast, family-diverse (≈60 s at 10×, covers every new family)
    "dd_exact",
    "x_hll_distinct",
    "tp_global_shuffle",
    "tp_shard_manifest",
    "ts_auc_langid",
    "ts_pr_summary_langid",
    "ts_auc_hashclf",
    "w_attribution_ushape",
    "x_gini_concentration",
    "x_markov_transitions",
    "dd_lsh_tuning",
    "tp_contamination_report",
    "w_top_paths",
    "ts_hashclf_drift",
    "tp_quality_curve",
    # round-10 additions: attribution rides the decontaminate
    # broadcast, the bucketed AUC the md5 band, Theil-Sen is
    # calendar²-bounded, concurrency sweeps session endpoints,
    # facets one Expand pass, incremental dedup delta-bounded
    "tp_contamination_attribution",
    "ts_auc_hashclf_bucketed",
    "ts_auc_hashclf_by_source",
    "dd_incremental",
    "dd_dup_stats_by_source",
    "a18_theil_sen",
    "x_max_concurrency",
    "o14_facet_counts",
    "a15_mad_outliers",
    # round-11 additions: Mann-Kendall rides theil_sen's bounded
    # pair join, Pettitt is pure windows (no join), RFM sorts the
    # customer dim only, LTV is one cohort window, padding two
    # source-partitioned windows
    "a19_mann_kendall",
    "a20_pettitt",
    "w_rfm_segments",
    "x_cohort_ltv",
    "tp_padding_efficiency",
    # round-12 addition: the two-level radix selection is one
    # map-combinable histogram scan + domain-bounded windows
    "x_exact_quantiles",
    # round-8 third-session trio: attribution is one user window
    # (linear), ACF one item exchange (linear in days), z-order a
    # pure projection + shard aggregate (linear, zero joins)
    "w_attribution",
    "a16_autocorrelation",
    "x_zorder_layout",
    "a17_dow_baseline",
    "x_activity_bitmap",
    "x_skipping_report",
    "x_zorder_ranked",
    "x_compaction_plan",
    "tp_sample_allocation",
    "w_attribution_multitouch",
    "w_attribution_decay",
    "x_fano_burstiness",
    # round-8 drift/overlap family: distinct-value scaffolds should
    # grow SUBLINEARLY (window input is value-domain-sized); the
    # KMV sketch stage is top-k-capped so only the distinct scan
    # scales
    "x_ks_drift",
    "x_psi_daily",
    "x_kmv_overlap",
    "x_spearman",
    "ts_pmi_collocations",
    "ts_language_id_ngram",
    "tp_line_dedup",
    "w_sessionize",
    "x_incremental_gold",
    # heavies (roughly ascending 10× cost; truncation hits here)
    "ann_topk_lsh_multi",
    "dd_simhash_banded",
    "dd_minhash_lsh",
    "ts_perplexity_bigram",
    "dd_embed_lsh_banded",
    "dd_cdc_segments",
    "a1_daily_market_summary",
    "dd_exact_substring",
    "tp_bpe_encode",
    "tp_clean_corpus",
    "tp_pack_contents",
    "x_pagerank",
]

# Budget guard for each probe (scaling, dup density, corpus pipeline,
# streaming): a probe must never endanger the driver's bench timeout, so
# it stops launching work after this many seconds and reports what
# completed (truncated=true, or -1 for a skipped streaming run).
PROBE_BUDGET_SEC = 300.0
SCALE_FACTOR = 10
DUP_FACTORS = (2, 4, 8, 16)
# streaming replay: N_CHUNKS time-ordered input files; the stateful A/B
# arm's state-store partition count (fixed at a stream's FIRST start, so
# a per-query conf, not a constant of the session)
N_CHUNKS = 8
STREAM_STATE_PARTS = 8


def check_names(registry) -> None:
    """Fail fast on a renamed or removed query: a silent filter would
    change the frozen 35-query total without anyone noticing."""
    unknown = [q for q in (*HEADLINE, *EXTRAS, *SCALING_SUBSET) if q not in registry]
    if unknown:
        raise KeyError(f"bench names not in harness.ALL_QUERIES: {unknown}")


def _family(name: str) -> str:
    for pref, fam in (
        ("dd_", "dedup"), ("ann_", "ann"), ("ts_", "text"), ("tp_", "corpus"),
    ):
        if name.startswith(pref):
            return fam
    return "olap"


def run_headline(spark, sf_dir: str) -> dict:
    """Median-of-3 with a discarded warm-up run (VERDICT r7 #3): single-run
    headline timings proved unreliable — r6's flagged "ann regression"
    (4.70 s) vanished in r7 (2.51 s) with ZERO code change, and the canary
    itself drifted 2.4x within one run. Drift visibility comes from the
    PER-FAMILY CANARY (r9 verdict #2, first option): the frozen canary
    runs before each prefix family, so a monotone host gradient is
    measured next to the queries it affects and per-family normalization
    is possible without changing what the headline numbers mean."""
    # One DISCARDED warm-up canary before the first family: the first
    # interleaved canary otherwise absorbs residual JVM/page-cache warm-up
    # (r10: olap read 0.401 vs 0.179-0.206 for the other four families),
    # biasing that family's cross-round normalization (r10 verdict #2).
    canary_warmup = timing.canary(spark, sf_dir)
    # Per-BLOCK canaries (r10 ADVICE #3): the headline list interleaves
    # families, and itertools.groupby groups only CONSECUTIVE entries —
    # keying a plain dict by family silently kept only the LAST block's
    # measurement. canary_blocks records every (family, canary) in run
    # order; canary_family keeps the FIRST block per family (the value
    # "measured before the family's first queries", matching the r10
    # methodology's intent and the cross-round normalization use).
    blocks: list[dict[str, float | str]] = []
    family: dict[str, float] = {}
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for fam, names in groupby(HEADLINE, _family):
        c = timing.canary(spark, sf_dir)
        blocks.append({"family": fam, "canary_sec": c})
        family.setdefault(fam, c)
        for name in names:
            build = timing.query(spark, sf_dir, name)
            timings[name], times = timing.median3(lambda: timing.run_once(build))
            cold[name] = times[0]
    return {
        "timings": timings,
        "cold": cold,
        "canary_warmup": canary_warmup,
        "canary_blocks": blocks,
        "canary_family": family,
    }


def run_extras(spark, sf_dir: str, cold: dict[str, float]) -> tuple[dict, list]:
    """Single-run stays the default (diagnostics), but any extra whose first
    run costs >= 2 s gets two more runs and reports the median — r8's
    verdict flagged that cross-round regression claims on heavy extras were
    noise-limited; this bounds the added wall to the few queries anyone
    actually compares. Fills `cold` with each first run, so the growth-probe
    base stays cold-vs-cold."""
    timings: dict[str, float] = {}
    heavy: list[str] = []
    for name in EXTRAS:
        build = timing.query(spark, sf_dir, name)
        t1 = cold[name] = timing.run_gc(build)
        if t1 >= 2.0:
            heavy.append(name)
            t1 = sorted([t1, timing.run_gc(build), timing.run_gc(build)])[1]
        timings[name] = t1
    return timings, heavy


def _ensure_scaled(sf_dir: str, out_dir: str, *flags: str, factor: int, tables) -> None:
    if not all(os.path.exists(os.path.join(out_dir, t)) for t in tables):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "gen_scale.py"),
             *flags, sf_dir, out_dir, str(factor)],
            check=True, capture_output=True,
        )


def run_scaling(spark, sf_dir: str, scale_dir: str, base: dict[str, float]) -> dict:
    """Scale-growth probe (round 4+): run SCALING_SUBSET at 10x the bench SF
    (tools/gen_scale.py layout — same schema/join graph, keys offset per
    copy) and report per-query growth vs the same-session sf-dir timing.
    Linear operators should land ≈10x; anything beyond ~15x is either
    explained in scaling["notes"] or a bug. `base` must hold the COLD first
    runs for headline and extras (a warm-median base would inflate every
    ratio by the warm-up factor, not the data factor)."""
    _ensure_scaled(sf_dir, scale_dir, factor=SCALE_FACTOR, tables=["lineitem.parquet"])
    probe, truncated = timing.growth(
        SCALING_SUBSET,
        base.get,
        lambda q: timing.run_once(timing.query(spark, scale_dir, q)),
        PROBE_BUDGET_SEC,
    )
    return {
        "factor": SCALE_FACTOR,
        "truncated": truncated,
        "scaled_sec": {q: r["scaled_sec"] for q, r in probe.items()},
        "growth": {q: r["growth"] for q, r in probe.items() if r["growth"] is not None},
        "notes": {
            "dd_embed_lsh_banded": (
                "expected superlinear at FIXED 64-bucket geometry: pairwise "
                "verify within buckets is O(n^2/buckets); production scaling "
                "raises planes (bucket count tracks n) to keep per-bucket "
                "occupancy (and thus candidates/vector) constant"
            ),
        },
    }


def _minhash_cand(docs):
    bands = dd._minhash_bands(dd.shingles(docs))
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


# (table, candidate-pair builder, dup-pair builder) per banded dedup
# family. Candidates reuse the operator itself where the threshold can be
# opened fully (hamming ≤ 64 / cosine ≥ -1 pass every candidate).
DUP_FAMILIES = {
    "minhash": ("documents", _minhash_cand, dd.minhash_lsh_dedup),
    "simhash_banded": (
        "documents",
        lambda t: dd.simhash_banded_dedup(t, max_hamming=64),
        dd.simhash_banded_dedup,
    ),
    "embed_lsh": (
        "embeddings",
        lambda t: dd.embedding_neardup_lsh(t, threshold=-1.0),
        lambda t: dd.embedding_neardup_lsh(t, threshold=0.9),
    ),
    # planes-track-n variant: per-bucket occupancy held constant, so
    # candidate growth should stay near the ~2x/doubling data line instead
    # of embed_lsh's fixed-geometry ~4x (n^2/2^planes)
    "embed_lsh_auto": (
        "embeddings",
        lambda t: dd.embedding_neardup_lsh_auto(t, threshold=-1.0, target_occupancy=16),
        lambda t: dd.embedding_neardup_lsh_auto(t, threshold=0.9, target_occupancy=16),
    ),
}


def run_dup_probe(spark, sf_dir: str) -> dict:
    """Dup-density probe (VERDICT r5 #5, widened r8 per r7 #5): the banded
    dedup families on duplicate-HEAVY corpora — the regime LSH exists for,
    which the (deliberately near-dup-free) uniform probe cannot measure.
    Clusters of size f at fixed cluster count ⇒ candidate pairs grow
    ~C(f,2) per cluster; pin that (a) candidate growth tracks that model,
    not n², for ALL THREE banded families (MinHash-LSH, SimHash-banded,
    embed-LSH), and (b) every verify/candidate join keeps its equi-join
    shape (no cartesian, no forced broadcast)."""
    base_tag = os.path.basename(sf_dir.rstrip("/"))
    t0 = time.perf_counter()
    dup: dict[str, dict] = {fam: {} for fam in DUP_FAMILIES}
    truncated = False
    for f in DUP_FACTORS:
        ddir = os.path.join(REPO, ".scaledata", f"{base_tag}-dup{f}")
        _ensure_scaled(
            sf_dir, ddir, "--dup-heavy", factor=f,
            tables=["documents.parquet", "embeddings.parquet"],
        )
        for fam, (table, cand_fn, pairs_fn) in DUP_FAMILIES.items():
            if time.perf_counter() - t0 > PROBE_BUDGET_SEC:
                truncated = True
                break
            rows = spark.read.parquet(os.path.join(ddir, f"{table}.parquet"))
            cand, pairs = cand_fn(rows), pairs_fn(rows)
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            t1 = time.perf_counter()
            n_pairs = pairs.count()
            sec = round(time.perf_counter() - t1, 3)
            dup[fam][f"f{f}"] = {
                "rows": rows.count(),
                "cand_pairs": cand.count(),
                "dup_pairs": n_pairs,
                "sec": sec,
                "equi_join_only": (
                    "CartesianProduct" not in plan
                    and "BroadcastNestedLoopJoin" not in plan
                ),
            }
        if truncated:
            break

    def cand_growth(fam):
        fs = [f for f in DUP_FACTORS if f"f{f}" in dup[fam]]
        return {
            f"f{a}->f{b}": round(
                dup[fam][f"f{b}"]["cand_pairs"] / max(dup[fam][f"f{a}"]["cand_pairs"], 1),
                2,
            )
            for a, b in zip(fs, fs[1:])
        }

    return {
        **dup,
        "truncated": truncated,
        "cand_growth": {fam: cand_growth(fam) for fam in DUP_FAMILIES},
        "model": (
            "clusters of size f at fixed cluster count -> ~C(f,2) pairs"
            " per cluster on top of a constant uniform-background term:"
            " f2->f4 ~6x, f4->f8 ~4.7x, f8->f16 ~4.3x of the CLUSTER"
            " component (embed_lsh backgrounds are larger: fixed"
            " 64-bucket geometry adds an n^2/64 uniform term;"
            " embed_lsh_auto holds occupancy constant, so its growth"
            " should sit near the ~2x/doubling data line + cluster"
            " term — the production planes-track-n rule, measured)"
        ),
    }


def run_pipeline_probe(spark, sf_dir: str, scale_dir: str) -> dict:
    """End-to-end corpus-pipeline probe (VERDICT r7 #6): the COMPOSED
    pipeline is the product; probe it as a whole at 1x and 10x and report
    per-stage wall + total growth. Stage walls come from
    run_corpus_pipeline's own meta["stage_sec"]."""
    base_tag = os.path.basename(sf_dir.rstrip("/"))
    pipe = {}
    t0 = time.perf_counter()
    for tag, ddir in (("base", sf_dir), ("x10", scale_dir)):
        # the x10 leg only runs if the base leg left enough headroom (x10
        # on a ~linear pipeline costs ~10x the base); a truncated probe
        # reports the base leg rather than blowing the bench timeout
        if tag == "x10" and (
            time.perf_counter() - t0 > PROBE_BUDGET_SEC - 12 * pipe["base"]["total_sec"]
        ):
            break
        out_pipe = os.path.join(REPO, ".scaledata", f"pipe_{base_tag}_{tag}")
        shutil.rmtree(out_pipe, ignore_errors=True)
        t1 = time.perf_counter()
        m = run_corpus_pipeline(spark, os.path.join(ddir, "documents.parquet"), out_pipe)
        pipe[tag] = {
            "total_sec": round(time.perf_counter() - t1, 3),
            "stage_sec": m["stage_sec"],
            "docs_in": m["docs_in"],
            "packs": m["packs"],
        }
        shutil.rmtree(out_pipe, ignore_errors=True)
    out = {**pipe, "truncated": "x10" not in pipe}
    if "x10" in pipe:
        out.update(
            growth=round(pipe["x10"]["total_sec"] / pipe["base"]["total_sec"], 2),
            stage_growth={
                k: round(pipe["x10"]["stage_sec"][k] / max(v, 0.001), 2)
                for k, v in pipe["base"]["stage_sec"].items()
                if k in pipe["x10"]["stage_sec"]
            },
        )
    return out


def run_streaming(spark, sf_dir: str) -> dict:
    """Streaming probe (r13 VERDICT #3): fixed row budget from the SAME
    parquet inputs. The events/documents tables are chunked into N_CHUNKS
    files once per base SF (input staging, the .scaledata convention —
    inputs, never results), then each monitor runs END-TO-END with
    trigger(availableNow=True) into the streaming noop sink, a FRESH
    checkpoint per run (no cross-run state), and maxFilesPerTrigger
    controlling micro-batch count. Two A/B axes ride the probe: micro-batch
    size (mft1 = 8 batches vs mft4 = 2) and the stateful ops' state-store
    partition count (session default vs STREAM_STATE_PARTS)."""
    sdir = os.path.join(
        REPO, ".scaledata", f"stream_{os.path.basename(sf_dir.rstrip('/'))}"
    )

    def stage(name, df, ts_col="ts"):
        """Write N_CHUNKS single-file time-range slices as b1..bN subdirs
        in ascending event-time order (sequential writes → ascending
        mod-times → FileStreamSource replays them in event order, the
        streaming tests' b1/b2 pattern). Chunking by random repartition was
        MEASURED to break the stateful sessionizer: unordered replay
        advances the watermark past a late chunk's groups and
        applyInPandasWithState raises INVALID_TIMEOUT_TIMESTAMP — a
        faithful micro-batch replay of an event log arrives roughly
        time-ordered."""
        path = os.path.join(sdir, name)
        marker = os.path.join(path, ".staged")
        if not os.path.exists(marker):
            b = df.withColumn("_b", F.ntile(N_CHUNKS).over(W.orderBy(F.col(ts_col))))
            for i in range(1, N_CHUNKS + 1):
                b.where(F.col("_b") == i).drop("_b").coalesce(1).write.mode(
                    "overwrite"
                ).parquet(os.path.join(path, f"b{i}"))
            with open(marker, "w") as fh:
                fh.write("ok")
        return os.path.join(path, "b*")

    # the source parquet's ts is TIMESTAMP_NTZ; watermarks require
    # TIMESTAMP — cast at staging (session TZ is UTC, deterministic)
    events_b = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    docs_b = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ticks_p = stage(
        "ticks",
        adapters.price_ticks(spark, sf_dir).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ),
    )
    events_p = stage("events", events_b)
    # deterministic synthetic scored stream for the AUC monitor
    # (score/label/ts all pure functions of the events row)
    scored_p = stage(
        "scored",
        events_b.select(
            "ts",
            (F.col("event_id") * 7 % 23).cast("long").alias("score"),
            (F.col("event_id") * 13 % 3 == 0).cast("int").alias("label"),
        ),
    )
    docs_p = stage(
        "docs",
        docs_b.withColumn(
            "ingest_ts",
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id") % 86400),
        ),
        ts_col="ingest_ts",
    )

    def run_stream(path, build, mft=1, state_parts=None):
        """Wall seconds for one availableNow end-to-end run."""
        ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        if state_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
        try:
            src = (
                spark.readStream.schema(spark.read.parquet(path).schema)
                .option("maxFilesPerTrigger", mft)
                .parquet(path)
            )
            t0 = time.perf_counter()
            q = (
                build(src)
                .writeStream.outputMode("append")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return round(time.perf_counter() - t0, 3)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
            shutil.rmtree(ckpt, ignore_errors=True)

    # one DISCARDED warm-up (first streaming query pays state-store +
    # sink init; measured ~2x inflation on the first run)
    warmup = run_stream(ticks_p, s_ohlc.streaming_hourly_ohlc, mft=8)
    t0 = time.perf_counter()

    def guarded(path, build, **kw):
        if time.perf_counter() - t0 > PROBE_BUDGET_SEC:
            return -1.0
        return run_stream(path, build, **kw)

    p = STREAM_STATE_PARTS
    return {
        "row_budget": {"events": events_b.count(), "docs": docs_b.count()},
        "micro_batches_mft1": N_CHUNKS,
        "warmup_discarded": warmup,
        "ohlc_monitor": guarded(ticks_p, s_ohlc.streaming_hourly_ohlc),
        "auc_monitor": guarded(scored_p, s_mleval.streaming_score_counts),
        "psi_histogram": guarded(events_p, s_drift.streaming_value_histogram),
        "dedup_ingest": guarded(
            docs_p, lambda s: s_ingest.streaming_dedup_ingest(s, "1 hour")
        ),
        "sessionize_state": guarded(events_p, s_stateful.streaming_sessions),
        # A/B axis 1: trigger batching (2 micro-batches instead of 8)
        "ohlc_monitor_mft4": guarded(ticks_p, s_ohlc.streaming_hourly_ohlc, mft=4),
        "auc_monitor_mft4": guarded(scored_p, s_mleval.streaming_score_counts, mft=4),
        # A/B axis 2: state-store partition count for the stateful ops
        f"sessionize_state_p{p}": guarded(
            events_p, s_stateful.streaming_sessions, state_parts=p
        ),
        f"auc_monitor_p{p}": guarded(
            scored_p, s_mleval.streaming_score_counts, state_parts=p
        ),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    check_names(harness.ALL_QUERIES)
    spark = get_spark("bench")
    timing.warm(spark, sf_dir)

    head = run_headline(spark, sf_dir)
    timings, cold = head["timings"], head["cold"]
    canary_blocks, canary_family = head["canary_blocks"], head["canary_family"]
    # canary_sec: the dedicated RUN-START canary (first measured block,
    # after the warm-up discard) — the denominator semantics of the r3-r9
    # series, which the r10 dict-overwrite had silently shifted to the
    # last olap block (r10 ADVICE #3). MEASURED r11: one discarded canary
    # improves the run-start reading (r10 0.401-class -> 0.278 at the
    # same host class) but does NOT close the gap to later blocks
    # (0.14-0.16) — JVM JIT warms from executing real queries, not from
    # canary repetition (8 back-to-back canary scans barely moved it).
    # So: canary_sec keeps run-start series semantics; canary_median_
    # blocks below is the unbiased same-host denominator; and the first
    # family's honest bracket is [next block's leading canary, its own
    # leading canary] — all blocks ride the record for exactly this.
    canary_sec = float(canary_blocks[0]["canary_sec"])
    extra_timings, extras_median3 = run_extras(spark, sf_dir, cold)
    canary_sec_post = timing.canary(spark, sf_dir)

    scaling = None
    if not os.environ.get("SPARK_GRAFT_NO_SCALING"):
        # cache dirs are keyed by the BASE sf dir: a local bench run at
        # sf0.001 must not leave small tables where a later sf0.1 run's
        # exists-check would reuse them (stale-cache poisoning)
        base_tag = os.path.basename(sf_dir.rstrip("/"))
        scale_dir = os.environ.get(
            "SPARK_GRAFT_SCALE_DIR",
            os.path.join(REPO, ".scaledata", f"{base_tag}x{SCALE_FACTOR}"),
        )
        # cold LAST: the growth denominator is the cold first run
        scaling = run_scaling(
            spark, sf_dir, scale_dir, {**timings, **extra_timings, **cold}
        )
        dup_probe = run_dup_probe(spark, sf_dir)
        scaling["corpus_pipeline_e2e"] = run_pipeline_probe(spark, sf_dir, scale_dir)
        scaling["dup_probe"] = dup_probe

    streaming_probe = None
    if not os.environ.get("SPARK_GRAFT_NO_STREAMING_BENCH"):
        streaming_probe = run_streaming(spark, sf_dir)

    quad_total = round(sum(t for n, t in timings.items() if n in QUADRATIC), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "quadratic_baselines_sec": quad_total,
        "scale_path_sec": round(sum(timings.values()) - quad_total, 3),
        "canary_sec": canary_sec,
        "canary_family": canary_family,
        "canary_sec_post": canary_sec_post,
        # median over every interleaved block + the post canary: immune to
        # the run-start JIT bias a single leading canary carries (r11).
        # statistics.median (r11 ADVICE #3: the old middle-index pick was
        # the LOWER median whenever the combined list length came out even)
        "canary_median_blocks": round(
            statistics.median(
                [float(b["canary_sec"]) for b in canary_blocks] + [canary_sec_post]
            ),
            4,
        ),
        # PRIMARY cross-round comparison number (round 4+): host drift moved
        # raw seconds ~1.25× between identical runs in earlier rounds; the
        # canary-normalized ratio is the host-honest series (r3 = 174.8).
        "headline_over_canary": round(sum(timings.values()) / canary_sec, 2),
        # self-describing methodology token (r9 verdict #7): the driver's
        # tail capture keeps only this compact line, so the method rides it
        # (r11: +run-start warm-up discard, per-block canary record)
        "timing": "median3-warm-familycanary-warmupdiscard",
    }
    # Two lines: a FULL detail record first (extra queries + scaling probe —
    # can exceed 2 kB), then the COMPACT required-schema record LAST so a
    # tail-capturing consumer always gets a complete, parseable JSON line
    # (BENCH_r05's `parsed: null` was the detail line overflowing the
    # driver's ~2000-char tail window).
    detail = dict(out)
    detail["extra_queries"] = extra_timings
    detail["timing_method"] = {
        "headline": (
            "median-of-3 warm (4 consecutive runs, cold discarded; r8+)."
            " r10 note: shuffled whole-list passes were MEASURED and"
            " rejected — uniform ~1.3-1.5x de-warming broke the frozen"
            " series; drift visibility comes from canary_family instead"
        ),
        "extras": "single-run; median-of-3 when first run >= 2 s (r9+)",
        "extras_median3": sorted(extras_median3),
        "scale_probe_base": "cold first runs",
        "canary_warmup_discarded": head["canary_warmup"],
        "canary_family": canary_family,
        "canary_blocks": canary_blocks,
        "canary_post": canary_sec_post,
        "canary_sec_semantics": (
            "run-start: first measured block after one discarded warm-up"
            " canary (r10 verdict #2 + ADVICE #3); canary_family keeps the"
            " FIRST block per family, canary_blocks every block in order"
        ),
    }
    if scaling is not None:
        detail["scaling"] = scaling
    if streaming_probe is not None:
        detail["streaming"] = streaming_probe
    print(json.dumps(detail))
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
