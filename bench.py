"""Benchmark harness — the driver's per-round perf feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...}, "sf": 0.1}

The driver captures only the LAST 2000 characters of output (round-5
lesson: a 2,106-char line left ``BENCH_r05.json`` with ``parsed: null``
and the perf gate blind). The emitted line is therefore hard-capped at
``EMIT_BUDGET`` chars: per-query values are 2-decimal, and if the full
map still overflows, the *fastest* queries are dropped from the emitted
map first (slow queries are the regression-relevant ones; failures are
always kept). Full 4-decimal timings for every headline query land in
``bench_full.json`` next to this script regardless.

Execution is forced with the ``noop`` sink so the whole plan runs (scan →
shuffle → agg) without driver-side collect serialization skewing the
numbers; results of the headline queries are tiny anyway, the cost is in
the input scan + shuffles, which noop preserves exactly.

The reference publishes no benchmark numbers (BASELINE.md) — the contract
is simply that these timings land parseably every round so regressions are
visible round-over-round.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# Headline set: the TPC-H-shaped analytics, the flagship dashboard chain,
# and one representative of each heavy operator family (round 2: dedup /
# ANN / text / session / extraction / temporal joins; round 3: the 7-way
# market-share join and the curation pipeline). Names absent from the
# registry are skipped (keeps bench runnable while operators land
# incrementally).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q7_nation_trade",
    "q8_market_share",
    "q10_returned_revenue",
    "q18_large_orders",
    "flagship_breakdown",
    "x1_exact_dedup",
    "x2_minhash_near_dup",
    "x3_cosine_topk",
    "x3b_ann_lsh",
    "x4_doc_stats",
    "x4e_bpe_token_stats",
    "x6_sessionize",
    "x7_sequence_pack",
    "x10_contamination_check",
    "x12_repetition_quality",
    "ud1_extract_categories",
    "xj1_asof_prior_click",
    "xj2_range_clicks_before_purchase",
    # round-3 late additions: sketch/profile, SCD2, and the two
    # heaviest of the five suite-completing TPC-H shapes
    "x13_kmv_distinct",
    "dq1_column_profile",
    "w7_scd2_user_state",
    "q16_supplier_variety",
    "q21_sole_supplier_orders",
    "x14_semdedup",
    "w8_funnel",
    # round-4 additions: PII scrub (map-only baseline), the KMV-based
    # profile twin (vs dq1's exact-distinct Expand), line dedup
    "x16_pii_redaction",
    "dq1b_approx_profile",
    "x19_line_dedup",
    "x20_curation_pipeline",
    # round-4 retrieval/quantization/CDC additions
    "x21_bm25_topk",
    "x22_quantize_error",
    "x23_fuzzy_linkage",
    "w9_gap_fill",
    "s11_version_diff",
    "x24_jl_projection",
    "w11_anomaly_zscore",
    # round-5 additions: quantized two-stage ANN, production-ln BM25,
    # distributed-seed IVF (plan fix), real-format DELETE + CDF, CDC
    # follower to a downstream mart
    "x3e_quantized_ann",
    "x21b_bm25_ln_topk",
    "x3d_ivf_topk",
    "s13_merge_delete",
    "st10_cdf_follower",
    "s14_restore",
    "s15_stats_skipping",
    "a14_sampled_percentiles",
    "s16_zorder_real",
    "st11_streaming_sessions",
    "x26_unigram_surprise",
    # late round-5 additions: merge-on-read DELETE (deletion vectors),
    # incremental aggregate mart from the CDF, bloom-prefilter join,
    # retention cohorts
    "s17_dv_delete",
    "st12_incremental_agg_mart",
    "j4_bloom_prefilter_join",
    "w12_retention_cohorts",
    "st13_left_outer_join",
    "x27_hll_distinct",
    "x28_graph_pagerank",
    "s18_shallow_clone",
    "st14_watermark_dedup",
    "ud4_retry_stats",
    "x29_sequence_patterns",
    "dq3_profile_drift",
    "x30_incremental_neardup",
    "x31_source_keywords",
    "w13_stickiness",
    "s19_check_constraints",
    "st15_delta_cdf_follower",
    # round 9: Delta-as-append-stream source (maxFilesPerTrigger tail)
    "st24_delta_append_stream",
    "st24b_partitioned_append_stream",
    "x5f_media_phash_neardup",
    "s41_bucketed_colocated_join",
    "x66_tokenizer_fertility",
    "x67_histogram_quantiles",
    "s42_variant_ingest",
    "s43_collated_grouping",
    "dq10_key_uniqueness",
    # round 10: training-shard writer (write + read-back manifest),
    # icebergCompatV2 write lifecycle
    "x68_training_shards",
    "s44_iceberg_compat_writes",
    "st25_streaming_shard_tail",
    "x69_bitext_mining",
    "st26_streaming_quantile_mart",
    "x70_hard_negatives",
    "s45_log_compaction",
    "x71_typo_pairs",
    "s46_row_lineage_diff",
    "x68b_shard_balance",
    # round 11: CDF writer obligation, compressed-container decode,
    # SymSpell radius 2, graph-traversal ANN (in-bench graph build =
    # ingest-time state in production, the x3f adjudication)
    "s47_cdf_obligation",
    "x5g_png_decode",
    "x71b_typo_pairs_ed2",
    "x3i_graph_ann",
    "x72_mmr_rerank",
    "dq11_calibration_audit",
    # round 12: per-commit VERSION.checksum lifecycle, unigram-LM
    # tokenizer training (Viterbi-EM) + its fertility audit
    "s48_version_checksums",
    "s49_liquid_clustering",
    "x73_unigram_train",
    "x73b_unigram_fertility",
    "x74_late_interaction",
    "x5h_jpeg_decode",
    "x75_two_stage_ann",
    "dq12_agreement_audit",
    # round 13: cluster-by-create, cross-encoder arm, incremental
    # graph maintenance, progressive JPEG, learned-sparse retrieval
    "s49b_cluster_by_create",
    "x76_cross_encoder_rerank",
    "st27_streaming_graph_ann",
    "x5i_progressive_jpeg_decode",
    "x77_learned_sparse",
    # round-6 additions: partitioned-DV delete, IVF-SQ8 combined ANN,
    # full-outer stream-stream interval join, filtered ANN, v2
    # checkpoints read, A-ES weighted sampling
    "s17b_dv_delete_partitioned",
    "x3f_ivf_sq_ann",
    "st16_full_outer_join",
    "x3g_filtered_ann",
    "x32_weighted_sample",
    "x33_canonical_dedup",
    "x34_substring_dedup",
    "w14_rfm_segments",
    "s20_column_mapping_writes",
    "s20b_drop_column",
    "s21_v2_checkpoint",
    "x35_domain_centroids",
    "w15_attribution",
    "x36_bigram_surprise",
    "x37_cluster_balanced_sample",
    "x38_dsir_importance",
    # st17_streaming_neardup is deliberately NOT in the headline: its
    # two full MinHash passes over an sf0.1-scale corpus measure ~17 s,
    # which would double the bench wall-clock for one query; the driver
    # correctness gate still runs it at sf0.01 (top of _PRIORITY).
    # round-7 additions: COW MERGE/DELETE on column-mapped tables and
    # through live deletion vectors, id-mode writes, rowTracking
    "s22_mapped_merge_delete",
    "s23_dv_merge",
    "s24_id_mode_writes",
    "s25_row_tracking",
    "st18_streaming_ivf_assign",
    "x34b_substring_trim",
    "s26_clone_rewrite",
    "s27_type_widening",
    "x10b_decontaminate_trim",
    "x39_cluster_topics",
    "x40_normalized_dedup",
    # round-8 additions: replaceWhere, BPE training, PQ-ANN, identity
    # columns, mapping × partitioning (batch + streaming twin),
    # temperature mixing. st19's epoch loop stays out (st17's rule:
    # multi-pass streaming sims pay for themselves only in the
    # correctness gate, which runs it at sf0.01 from _PRIORITY).
    "s28_replace_where",
    "x41_bpe_train",
    "x3h_pq_ann",
    "s29_identity_columns",
    "s30_mapped_partitioned",
    "st20_mapped_stream_sink",
    "x42_temperature_mix",
    "x43_coverage_select",
    "w16_time_weighted_avg",
    "x44_luhn_card_scrub",
    "x45_embedding_outliers",
    "s31_overwrite",
    "dq4_referential_integrity",
    "x46_boilerplate_grams",
    "x41b_bpe_encode",
    "x47_ann_recall_audit",
    "dq5_timeseries_gaps",
    "dq6_robust_outliers",
    "s32_dynamic_overwrite",
    "w17_pareto_sources",
    "s33_overwrite_schema",
    "st21_streaming_dedup_ledger",
    "a15_grouping_sets",
    "x48_semantic_decontam",
    "x49_leakage_safe_split",
    "x50_quality_probe",
    "s34_row_id_lifecycle",
    "x5d_multimodal_pack",
    "f9_datetime_suite",
    "st22_streaming_quality_mart",
    "s35_generated_partition_pruning",
    "dq7_token_drift",
    "a16_conditional_aggregates",
    "xj3_asof_tolerance",
    "x52_quantizer_drift",
    # continuation-session additions: identity merge, rowTracking ×
    # mapping driver row, map-side phrase search, waterfill, novelty
    "s36_identity_merge",
    "s37_mapped_row_ids",
    "x53_phrase_search",
    "x54_budget_waterfill",
    "x55_novelty_curve",
    # round-8 closing batch: readability bands, cross-source overlap
    # matrix, quantizer label purity, Benford audit
    "x56_readability",
    "x57_source_overlap",
    "x59_cluster_purity",
    "dq8_benford_audit",
    "x60_containment_pairs",
    # round 9: corpus-wide containment (x60's production pass)
    "x60b_corpus_containment",
    "x61_ql_topk",
    "x62_hybrid_rrf",
    "st23_streaming_scd2_enrich",
    "x63_sketch_overlap",
    "x64_matryoshka_recall",
    "x5e_audio_vad",
    "dq9_reconciliation",
    "x65_lsh_sweep",
    "s38_domain_metadata",
    "s39_column_defaults",
    # x51_dedup_roi stays OUT of the headline (st17's rule): its
    # sequential three-pass sweep costs ~30 s at sf0.1 — the driver
    # correctness gate runs it at sf0.01 from the top of _PRIORITY.
]


def _prev_emitted(
    root: str = os.path.dirname(os.path.abspath(__file__)),
) -> set:
    """Query names the newest round record emitted: ``parsed.queries``
    of the highest-numbered ``BENCH_r<N>.json`` in ``root`` (numeric N;
    ``BENCH_r<N>_c8.json``-style variants are not round records).
    Protected alongside the current verification window so the emitted
    per-query subset stays comparable across window rotations (VERDICT
    r13 item 3). Names absent from the registry are ignored; no record,
    or one whose bench line did not parse, protects nothing."""
    records = [
        (int(m.group(1)), name)
        for name in os.listdir(root)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", name))
    ]
    if not records:
        return set()
    with open(os.path.join(root, max(records)[1])) as fh:
        parsed = json.load(fh).get("parsed") or {}
    return set(parsed.get("queries") or {})


def _cpu_model() -> str:
    """CPU model string from /proc/cpuinfo (detail artifact only)."""
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.lower().startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Host context, sampled BEFORE the Spark JVM starts: 1-min load here
    # is entirely external tenancy (round-6 lesson — 4 queries flagged
    # ≥1.5× vs the r4 record turned out to be host noise, but the record
    # could not prove it). A pre-JVM load above NOISE_LOAD marks the
    # whole run noisy so bench_compare and the judge read regressions
    # against a contaminated-run caveat carried IN the artifact.
    NOISE_LOAD = 5.0
    try:
        load_pre = round(os.getloadavg()[0], 2)
    except OSError:
        load_pre = -1.0

    def _steal_pct(window_s: float = 1.0) -> float:
        """Hypervisor STEAL share over a short window — the tenancy
        signal loadavg misses (round-10 lesson: two runs with pre-JVM
        load ~2 and noisy=False still read ~1.3x slower on untouched
        queries; /proc/stat steal was the only witness). Sampled
        pre-JVM so the number is pure external contention."""
        try:
            def snap():
                with open("/proc/stat") as fh:
                    parts = fh.readline().split()[1:]
                vals = [int(x) for x in parts]
                # fields 0-7 = user..steal; guest/guest_nice (8-9) are
                # already folded into user/nice by the kernel, so
                # including them double-counts and understates steal%
                return sum(vals[:8]), vals[7] if len(vals) > 7 else 0
            t0, s0 = snap()
            time.sleep(window_s)
            t1, s1 = snap()
            return round(100.0 * (s1 - s0) / max(t1 - t0, 1), 1)
        except OSError:
            return -1.0

    steal_pre = _steal_pct()
    NOISE_STEAL = 10.0  # >10% stolen CPU contaminates every timing

    def _cal_py_ms() -> float:
        """Fixed-work CPU calibration (median of 3 spins), pre-JVM.
        Round-13 lesson: a freeze run read ~1.25x slow on EVERY query
        (Python-worker stages up to 8x) while load_pre was 0.35 and
        steal 0.0 — VM scheduling jitter (dmesg: 'hrtimer: interrupt
        took 15ms') is invisible to both existing witnesses. A fixed
        single-thread spin gives the artifact an absolute clock the
        judge can compare ACROSS runs: same code + higher cal_py_ms
        means the window was slow, not the engine."""
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            s = 0
            for i in range(2_000_000):
                s += i * i
            samples.append((time.perf_counter() - t0) * 1000.0)
        samples.sort()
        return round(samples[1], 1)

    cal_py = _cal_py_ms()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    from acero_delta_lake_streaming_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("WARN")

    import __spark_entry__ as entrymod

    registry = entrymod.queries()
    names = [n for n in HEADLINE if n in registry]

    def run(name: str) -> float:
        # Rebuilt per call: the entry wrapper releases scoped caches at
        # query start, so every execution does the full work fresh.
        df = registry[name](spark, sf_dir)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def _cal_spark_ms() -> float:
        """Fixed parallel JVM workload (median of 3), measured after
        warmup: the multi-core twin of cal_py_ms — VM jitter hits
        parallel stages and Python workers harder than a single
        thread, so the pair brackets the window's real speed."""
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(1 << 24).selectExpr(
                "count(if((id * id) % 7 = 0, 1, NULL)) AS c"
            ).collect()
            samples.append((time.perf_counter() - t0) * 1000.0)
        samples.sort()
        return round(samples[1], 1)

    # Warm up the JVM/codegen path once so the first measured query does
    # not pay session/classloader startup.
    if names:
        try:
            run(names[0])
        except Exception:
            pass
    cal_spark = _cal_spark_ms()

    # Freeze mode (VERDICT r10 item 2): SPARK_GRAFT_BENCH_RUNS=N >= 2
    # runs N FULL passes with INTERLEAVED query order (natural /
    # reversed / half-rotated) and takes the per-query MEDIAN. The
    # measured same-code spread on this host is ~1.3x in waves lasting
    # minutes — back-to-back min-of-two samples sit inside one wave and
    # cannot reject it, but interleaved passes put a query's samples
    # minutes apart, so a single wave corrupts at most one of three and
    # the median discards it. Per-pass timings land in the detail
    # artifact (`runs`) so wave structure stays auditable.
    try:
        n_runs = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "0")))
    except ValueError:
        n_runs = 0

    timings: dict[str, float] = {}
    per_pass: list[dict[str, float]] = []
    if n_runs >= 2:
        import statistics

        half = len(names) // 2
        orders = {
            0: list(names),
            1: list(reversed(names)),
            2: names[half:] + names[:half],
        }
        samples: dict[str, list[float]] = {n: [] for n in names}
        for p in range(n_runs):
            pass_t: dict[str, float] = {}
            for name in orders[p % 3]:
                try:
                    t = run(name)
                except Exception as exc:
                    print(f"bench: {name} failed: {exc}", file=sys.stderr)
                    t = -1.0
                pass_t[name] = round(t, 4)
                if t >= 0:
                    samples[name].append(t)
            per_pass.append(pass_t)
        for name in names:
            timings[name] = (
                round(statistics.median(samples[name]), 4)
                if samples[name]
                else -1.0
            )
    else:
        for name in names:
            try:
                # Best of two fresh executions: JIT/GC noise on this box
                # is ±30% per run, which drowned round-over-round
                # comparison; the min of two is a stable proxy for the
                # true cost.
                timings[name] = round(min(run(name), run(name)), 4)
            except Exception as exc:  # broken query must not kill bench
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
                timings[name] = -1.0

    total = round(sum(t for t in timings.values() if t >= 0), 4)

    # Post-run load includes this bench's own 32-thread JVM, so it is
    # only a sanity cross-check; the pre-JVM sample is the tenancy
    # signal.
    try:
        load_post = round(os.getloadavg()[0], 2)
    except OSError:
        load_post = -1.0
    noisy = load_pre >= NOISE_LOAD or steal_pre >= NOISE_STEAL

    # Full detail to a local file (not size-constrained).
    detail = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "load_pre_jvm": load_pre,
        "load_post_run": load_post,
        "steal_pct_pre": steal_pre,
        "cal_py_ms": cal_py,
        "cal_spark_ms": cal_spark,
        # cal_py's fixed spin is only comparable across runs on the same
        # interpreter build and CPU (ADVICE r13) — scope cross-run
        # comparisons to matching values of these two fields.
        "python_version": sys.version.split()[0],
        "cpu_model": _cpu_model(),
        "noise_flag": noisy,
    }
    if per_pass:
        detail["n_runs"] = n_runs
        detail["aggregation"] = "median_of_interleaved_passes"
        detail["runs"] = per_pass
        detail["run_totals"] = [
            round(sum(t for t in p.values() if t >= 0), 2) for p in per_pass
        ]
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    # Driver-facing single line, hard-capped under the 2000-char tail
    # capture (r5 lesson: 2106 chars -> parsed:null). 2-decimal values;
    # on overflow drop fastest entries first, protecting the current
    # driver verification window (those are the queries whose fresh
    # timings the record needs most) and failures (value -1).
    EMIT_BUDGET = 1900
    emitted = {n: (round(t, 2) if t >= 0 else -1.0) for n, t in timings.items()}
    try:
        from acero_delta_lake_streaming_spark.queries import _PRIORITY

        protected = set(_PRIORITY[:50])
    except Exception:
        protected = set()
    # Rotation-stable emitted set (r14, VERDICT r13 item 3): the r13
    # window rotation shrank the driver's round-over-round common set to
    # 40 because each round's emitted map protected only ITS window.
    # Additionally protect every name the PREVIOUS round's driver record
    # emitted (the newest BENCH_r<N>.json), so consecutive rounds always
    # share their emitted subsets; if both sets together still overflow
    # the budget, the fastest protected entries drop last (same tiered
    # sort below).
    protected |= _prev_emitted()

    def _line() -> str:
        payload = {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": emitted,
            "sf": sf,
            "n_queries": len(timings),
            "load": load_pre,
            "steal": steal_pre,
            "cal_py": cal_py,
            "cal_spark": cal_spark,
            "noisy": noisy,
        }
        if per_pass:
            payload["run_totals"] = detail["run_totals"]
        return json.dumps(payload, separators=(",", ":"))

    droppable = sorted(
        (n for n, t in emitted.items() if t >= 0),
        key=lambda n: (n in protected, emitted[n], n),
    )
    while len(_line()) > EMIT_BUDGET and droppable:
        del emitted[droppable.pop(0)]
    print(_line())
    return 0


if __name__ == "__main__":
    sys.exit(main())
