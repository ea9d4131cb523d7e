"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full JSON artifact line {"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...} followed by a compact summary-only JSON
line carrying the same contract keys (the driver stores only the last
2000 chars of stdout, so the LAST line must be self-contained — r10
verdict task 2).

Execution is forced with the `noop` sink (full pipeline runs, nothing is
collected to the driver), so timings measure scan -> shuffle -> agg work,
not result serialization. One tiny warm-up query amortizes JVM/codegen
startup out of the per-query numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per major surface — full ETL chain, the reference's
# analytical queries, TPC-H joins/aggs, window functions, LLM data ops.
HEADLINE = [
    "etl_enrich_events",
    "event_type_rollup",
    "health_check",
    "windowed_counts_60s",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    "revenue_by_region",
    "top_order_per_customer",
    "monthly_revenue_momentum",
    "asof_last_login_value",
    "dedup_exact_text",
    "dedup_near_minhash_lsh",
    "dedup_ngram_jaccard",
    "simhash_near_dup",
    "similarity_topk_bruteforce",
    "similarity_ivf",
    "text_stats_by_lang",
    "rolling_weekly_revenue",
    "grouping_sets_revenue",
    "tpch_q9_product_profit",
    "tpch_q13_customer_order_histogram",
    "tpch_q21_waiting_suppliers",
    "sessionize_events_batch",
    "embedding_centroids_by_label",
    "multimodal_frame_sample",
]

# Added round 3 (new operators; kept out of _R2_SET so cross-round totals
# stay apples-to-apples via headline_total_r2_subset).
HEADLINE += [
    "dedup_cluster_components",
    "similarity_multiprobe_lsh",
    "similarity_multitable_lsh",
    "contamination_ngram_overlap",
    "chunk_dup_stats",
    "embedding_random_projection",
    "udtf_chunk_split",
    # round-3 analytics surface
    "event_funnel_conversion",
    "retention_cohorts",
    "user_event_transitions",
    "user_value_trend",
    # round-3b additions
    "heavy_hitter_bigrams",
    "cdc_chunk_dedup",
    # round-3c additions: custom Python DataSource scan, sketch-union
    # agg, dynamic-partition backfill sink, manifest-commit sink
    "pysource_batch_rollup",
    "hll_mergeable_sketch_union",
    "backfill_dynamic_overwrite",
    "wire_sink_roundtrip",
    # round-3d additions: Arrow grouped-agg UDAF, runtime bloom-filter
    # join pruning, dense time-series gap fill
    "udaf_median_mad_by_type",
    "bloom_filter_join_pruning",
    "hourly_dense_locf",
    "incremental_rollup_maintenance",
    "tokenizer_bpe_pair_counts",
    "kmeans_lloyd_iterations",
    "theta_sketch_audience_overlap",
]

_R2_SET = set(HEADLINE[:27])

# Frozen at the end of round 3 (52 queries): round-4+ additions append
# AFTER this marker, so headline_total_r3_subset stays apples-to-apples
# across rounds the same way the r2 subset does.
_R3_SET = set(HEADLINE)

# Added round 4: image perceptual-hash near-dup (decode + dHash +
# Hamming banding) and the quantized int8-scan + exact-rerank ANN.
HEADLINE += [
    "image_phash_near_dup",
    "similarity_int8_rerank",
    "semantic_dedup_keep_canonical",
    "dedup_minhash_estimate_error",
    "streaming_scd2_asof_enrich",
    "streaming_multimodal_phash_rollup",
    "dedup_keep_best_quality",
    "streaming_approx_users_per_window",
    "dedup_incremental_ingest",
    "range_join_binned_incidents",
    "dedup_unicode_normalized",
    "dedup_edit_distance_pairs",
    "similarity_pq_adc",
    "cms_token_frequency",
    "epoch_shuffle_shards",
    "curriculum_mix_schedule",
    # round-4 continuation: graph + histogram + join-IVM + index surface
    "graph_triangle_counts",
    "value_histogram_equidepth",
    "join_skew_diagnostics",
    "incremental_join_maintenance",
    "char_diversity_by_source",
    "inverted_index_postings",
    # round-4 second wave: containment dedup, quality rules, weighted
    # sampling, interval concurrency, bigram LM
    "dedup_containment_pairs",
    "gopher_rules_filter",
    "weighted_sample_docs",
    "max_concurrent_shipments",
    "bigram_lm_surprisal",
    "bpe_train_merges",
    "repeated_passage_coverage",
    "token_budget_selection",
    "k_core_peel_rounds",
    "ewma_user_value",
    "k_anonymity_audit",
    "streaming_quality_gate",
    "audio_energy_windows",
    "cumulative_unique_users_by_day",
    "first_touch_attribution",
    "sparse_dot_topk_pairs",
    "pmi_collocations",
    "neyman_allocation_sample",
    "langid_confusion_metrics",
    "dataset_datasheet",
    "within_doc_dedup",
    "winsorized_price_stats",
    "basket_lift_pairs",
    "bpe_apply_compression",
    "interarrival_gap_stats",
    "dup_cluster_size_histogram",
    "seasonal_residual_anomaly",
    "top_event_paths",
    "grouped_leakage_free_split",
    "pca_power_iteration",
    "median_imputation_audit",
    "cross_source_dup_matrix",
    "mann_kendall_trend",
    "revenue_gini",
    "lorenz_curve_deciles",
    "theil_sen_slope",
    "ks_two_sample",
    "poisson_bootstrap_ci",
    "cusum_changepoint",
    "permutation_test_mean_diff",
    "benford_first_digit_audit",
    "mann_whitney_u",
    "acf_lag_profile",
    "linear_model_quality_gate",
    "spearman_rank_correlation",
    "kaplan_meier_table",
]

# Frozen at the end of round 4 (116 queries): round-5+ additions append
# AFTER this marker, so headline_total_r4_subset stays apples-to-apples
# across rounds the same way the r2/r3 subsets do.
_R4_SET = set(HEADLINE)

# Added round 5: baseline JPEG decode (pure-Python huffman + IDCT via
# mapInPandas) completing the image codec surface.
HEADLINE += [
    "multimodal_jpeg_decode",
]

# Frozen at the end of round 5 (120 queries; round 6 added none — the
# query count is frozen at 242 per the r5 verdict): round-7+ additions
# append AFTER this marker so headline_total_r5_subset stays
# apples-to-apples across rounds the same way the r2/r3/r4 subsets do.
_R5_SET = set(HEADLINE)

# Added round 8 (r7 verdict task 6): the two scale-option variants now
# carry their own oracle-checked queries — 128-bit SimHash (birthday-
# collapse width) and the phash star emission (O(members) output).
HEADLINE += [
    "simhash128_near_dup",
    "image_phash_star_dedup",
]


def _force(df) -> None:
    """Fully execute a plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()


# Frozen reference calibration for steal normalization: the round-5
# driver bench's min-of-5 probe on this box (BENCH_r05.json). Do NOT
# update this constant when the probe code is untouched — it is the
# fixed point that makes normalized subtotals comparable across rounds.
_CALIBRATION_REF_R5 = 0.6668

# Frozen reference for the shuffle-heavy probe, measured on its first
# round-8 run at scalar steal 0.98 (near-quiet box). Same rule: never
# update while the probe code is untouched. The PAIR
# (steal_factor, steal_factor_shuffle) brackets a run's host condition:
# scalar tracks CPU steal, shuffle tracks memory/exchange bandwidth.
_SHUFFLE_CALIBRATION_REF_R8 = 0.7055

# The r6 comparison family (headline_total_r6_ref 128.7, bench_ref_r6
# medians, r6_ref_calibration 0.7398) is RETIRED as of round 11 (r10
# verdict task 6): it covered only the 120-query r5 subset under the
# old back-to-back protocol with a stale calibration; bench_ref_r10.json
# covers every headline query under the current interleaved protocol,
# so the artifact now carries exactly one reference family (vs-r10) and
# readers stop cross-comparing against the wrong floor. The retired
# constants live in git history (bench.py @ round 10) and in the
# committed BENCH_r01..r10 artifacts.


def _reference_timings(fname: str) -> dict[str, float]:
    """Per-query steady reference timings from a committed artifact in
    tools/ (bench_ref_r10.json; the retired r6 twin lives in git
    history)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", fname
    )
    try:
        with open(path) as f:
            return json.load(f).get("queries", {})
    except (OSError, ValueError) as exc:
        # a vanished/corrupt reference must not silently degrade the
        # robust metric to the probe model it back-stops
        print(f"WARNING: per-query reference unavailable ({fname}): {exc}",
              file=sys.stderr)
        return {}


def shuffle_heavy_queries(headline: list[str] | None = None) -> set[str]:
    """Headline queries in the top QUINTILE by sf0.1 shuffle-write
    bytes (EXCHANGE_AUDIT.json), i.e. the plans whose wall time moves
    with exchange/memory bandwidth rather than scalar CPU. Used to pick
    which calibration probe normalizes a query's regression flag (r10
    verdict task 4). Quintile, not the verdict's literal decile: the
    decile boundary (~3.1 MB) excludes dedup_near_minhash_lsh (2.34 MB,
    rank 22/122) — one of the two queries the r10 adjudication showed
    swinging 2-3x with steal_factor_shuffle while scalar read 1.0 —
    while the quintile (~2.0 MB) covers every query in that observed
    contention class. Computed dynamically so an EXCHANGE_AUDIT refresh
    re-derives the class; empty set (audit absent) degrades every flag
    to the scalar probe, never hides one."""
    if headline is None:
        headline = HEADLINE
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "EXCHANGE_AUDIT.json"
    )
    try:
        with open(path) as f:
            audit = json.load(f)["queries"]
    except (OSError, ValueError, KeyError) as exc:
        print(
            f"WARNING: EXCHANGE_AUDIT.json unavailable ({exc}); "
            "per-query flags fall back to the scalar probe",
            file=sys.stderr,
        )
        return set()
    byts = sorted(
        (audit[q].get("bytes_sf01", 0), q) for q in headline if q in audit
    )
    if not byts:
        return set()
    cut = byts[int(len(byts) * 0.8)][0]
    return {q for b, q in byts if b >= cut}


def per_query_flags(
    timings: dict[str, float],
    ref: dict[str, float],
    scalar_steal: float,
    shuffle_steal: float,
    shuffle_heavy: set[str],
    threshold: float = 1.5,
) -> dict[str, dict]:
    """Regression flags vs a committed per-query reference, normalized
    by the probe that matches each query's contention class:

    - divisor = max(steal, 1.0) — the clamp is r10 verdict task 3: a
      host QUIETER than the frozen probe reference (steal < 1) must
      never inflate ratios into phantom flags (the driver's r10 run had
      scalar calib 0.5446 -> steal 0.82, manufacturing 55 flags where
      the judge's quiet run on identical code produced 10).
    - shuffle-heavy queries (top exchange-bytes quintile) divide by the
      SHUFFLE probe's steal, everything else by the scalar probe's (r10
      verdict task 4: those plans swing 2-3x with shuffle-side
      contention the scalar probe reads as 1.0).

    Each flagged entry carries raw ratio, normalized ratio, and which
    probe normalized it, so the artifact is self-adjudicating."""
    out: dict[str, dict] = {}
    for k, t in timings.items():
        r = ref.get(k, 0.0)
        if r <= 0:
            continue
        probe = "shuffle" if k in shuffle_heavy else "scalar"
        steal = shuffle_steal if probe == "shuffle" else scalar_steal
        raw = t / r
        norm = raw / max(steal, 1.0)
        if norm > threshold:
            out[k] = {"raw": round(raw, 3), "norm": round(norm, 3), "probe": probe}
    return out


def normalized_total(
    timings: dict[str, float],
    scalar_steal: float,
    shuffle_steal: float,
    shuffle_heavy: set[str],
) -> float:
    """Headline total under the SAME per-query clamped probe-matched
    divisors as per_query_flags, so every vs-r10 field shares one basis
    (ADVICE r10: the first round-11 smoke run showed headline_vs_r10_ref
    at 1.03 while the per-query median read 0.66 on identical timings,
    purely because the total divided by an UNCLAMPED scalar steal of
    0.72). The r10 reference is pooled from quiet windows (~steal 1.0),
    so normalization against it must only ever DEFLATE contention,
    never inflate a quiet run."""
    return round(
        sum(
            t / max(shuffle_steal if k in shuffle_heavy else scalar_steal, 1.0)
            for k, t in timings.items()
        ),
        3,
    )


# The driver keeps the last 2000 chars of stdout; the summary line must
# fit with margin even with every numeric field populated.
_SUMMARY_MAX_CHARS = 1900

# Fields the summary line repeats from the full artifact: the driver
# contract keys first (metric/value/unit/sf) so a parser that reads only
# the last line still sees the contract shape, then every number the
# r10 verdict listed as lost-to-truncation.
_SUMMARY_KEYS = [
    "metric",
    "value",
    "unit",
    "sf",
    "headline_total_normalized",
    "cold_total",
    "calibration_sec",
    "calibration_shuffle_sec",
    "steal_factor",
    "steal_factor_shuffle",
    "host_noisy",
    "median_ratio_vs_r10",
    "median_ratio_vs_r10_raw",
    "median_ratio_vs_r10_n",
    "headline_vs_r10_ref",
    "headline_vs_r10_ref_raw",
    "flagged_over_1p5x_vs_r10_count",
]


def summary_line(full: dict) -> dict:
    """Compact summary-only record printed as the LAST stdout line (r10
    verdict task 2): BENCH_r09/r10 lost headline_total, the normalized
    totals, and host_noisy because the driver keeps only the final 2000
    characters and those fields sat before the 122-entry query dict.
    Repeats the contract keys plus every summary number; the size
    of those base fields is asserted so a field addition can't silently
    push the line back over the truncation horizon.

    r12 (r11 verdict task 1): the line now also carries a compact
    per-query map — the driver's PERF comparator and its per-query
    core-scaling audit parse only this final line, so two rounds of
    artifacts had `per_query: {}` / `n_common: 0` while the full
    122-entry dict sat un-captured on the preceding line. `queries`
    holds the SLOWEST queries first at 2-decimal raw seconds, filled
    until the next entry would push the encoded line over the budget
    (well under the 2000-char tail); `queries_omitted` counts what
    didn't fit, so truncation is explicit, never silent. The full-precision
    complete dict still leads the preceding full-artifact line — no
    measurement changed, only where a copy of it is printed."""
    out = {k: full[k] for k in _SUMMARY_KEYS if k in full}
    out["summary_of"] = "full artifact on the preceding stdout line"
    timings = full.get("queries") or {}
    out["queries"] = {}
    out["queries_omitted"] = len(timings)
    base = json.dumps(out)
    assert len(base) <= _SUMMARY_MAX_CHARS, (
        f"summary base fields {len(base)} chars > {_SUMMARY_MAX_CHARS} — "
        "they would risk the 2000-char stdout tail truncating the line"
    )
    # Fill slowest-first and stop at the first entry that would push the
    # encoded line over the budget; that entry and the faster ones are
    # counted in queries_omitted.
    compact: dict[str, float] = out["queries"]
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        compact[name] = round(sec, 2)
        out["queries_omitted"] = len(timings) - len(compact)
        if len(json.dumps(out)) > _SUMMARY_MAX_CHARS:
            del compact[name]
            out["queries_omitted"] += 1
            break
    return out


def _shuffle_probe(spark):
    """Second calibration probe, shuffle/memory-bound where the scalar
    probe is scan-bound: fixed 10M-row hash aggregate (multiplicative
    key spread -> 1M groups, one exchange). Code-frozen like the scalar
    probe; the PAIR of steal factors brackets a run's host condition."""
    from pyspark.sql import functions as F

    return (
        spark.range(10_000_000)
        .select(((F.col("id") * 2654435761) % 1_000_000).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("c"), F.sum("k").alias("s"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from streaming_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="spark-graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    # Warm-up: spin the JVM, codegen, and the parquet footer cache.
    _force(qs["event_type_rollup"](spark, sf_dir))

    # Host-steal calibration: this box shows uniform multi-x run-to-run
    # swings (virtualized CPU steal), so cross-round totals can't be
    # compared raw. Publish the min-of-5 of a fixed, code-frozen probe
    # (the warm-up query) as `calibration_sec`; the ratio of two runs'
    # calibrations estimates their relative steal and normalizes the
    # frozen-subset comparison.
    def _probe_pair() -> tuple[float, float]:
        c = cs = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            _force(qs["event_type_rollup"](spark, sf_dir))
            c = min(c, time.perf_counter() - t0)
        # Second, shuffle-heavy probe (min-of-5 like the scalar one).
        for _ in range(5):
            t0 = time.perf_counter()
            _force(_shuffle_probe(spark))
            cs = min(cs, time.perf_counter() - t0)
        return round(c, 4), round(cs, 4)

    # Probe-gated start (r9 verdict task 4): BENCH_r09 had to ship from
    # the most contended host of any round. Sample the code-frozen probe
    # pair; if either steal reads > 1.3x, wait and resample a bounded
    # number of times — a 3-minute delay is cheap next to an artifact
    # whose raw figures are unusable as a regression baseline. The LAST
    # sample is the published calibration (it reflects the conditions
    # the timed passes actually ran under); every sample is recorded.
    probe_samples: list[dict[str, float]] = []
    calib, calib_shuffle = _probe_pair()
    probe_samples.append({"scalar": calib, "shuffle": calib_shuffle})
    for _ in range(3):
        if (
            calib / _CALIBRATION_REF_R5 <= 1.3
            and calib_shuffle / _SHUFFLE_CALIBRATION_REF_R8 <= 1.3
        ):
            break
        print(
            "WARNING: steal probes read hot "
            f"(scalar {calib / _CALIBRATION_REF_R5:.2f}x, shuffle "
            f"{calib_shuffle / _SHUFFLE_CALIBRATION_REF_R8:.2f}x); "
            "waiting 45s for a quieter window",
            file=sys.stderr,
        )
        time.sleep(45)
        calib, calib_shuffle = _probe_pair()
        probe_samples.append({"scalar": calib, "shuffle": calib_shuffle})

    # Per-query protocol: the first execution is TIMED as the cold run
    # (it pays the one-time whole-stage-codegen / janino compile for
    # that query's stage shapes — measured at ~7s extra on the near-dup
    # plans), then min-of-2 timed runs give the steady-state number a
    # long-running engine delivers. Both totals are published so rounds
    # stay comparable whichever protocol an earlier round used (r1
    # totals were cold-inclusive, r2 totals steady-state). min-of-2
    # because this box shows multi-x run-to-run noise (virtualized host
    # steal); the min is the standard steal-robust estimator and every
    # run executes the FULL plan with caches cleared between.
    #
    # INTERLEAVED passes (r9 verdict task 4): the two steady samples of
    # one query are separated by a full pass over the whole set
    # (~minutes), not taken back-to-back — a noise burst that lands on a
    # query's slot in pass 1 has decorrelated by its pass-2 slot, so the
    # per-query min survives transient contention the old back-to-back
    # protocol could not (both samples inside one burst). Same total
    # run count, strictly better per-query estimator on a shared host.
    names = [n for n in HEADLINE if n in qs]
    cold: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        _force(qs[name](spark, sf_dir))
        # event_type_rollup has already run many times as warm-up +
        # calibration probe, so its "first" execution here is steady,
        # not cold — publishing it in cold_total would deflate the cold
        # protocol.
        if name != "event_type_rollup":
            cold[name] = round(time.perf_counter() - t0, 3)
        # Operators that cache intermediates (near-dup group tables)
        # must not carry their storage into the next run's timing.
        spark.catalog.clearCache()
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            prev = timings.get(name, float("inf"))
            timings[name] = round(min(prev, dt), 3)
    timings = {name: timings[name] for name in names}

    total = round(sum(timings.values()), 3)
    cold_total = round(sum(cold.values()), 3)
    r2_subset = round(sum(v for k, v in timings.items() if k in _R2_SET), 3)
    r3_subset = round(sum(v for k, v in timings.items() if k in _R3_SET), 3)
    r4_subset = round(sum(v for k, v in timings.items() if k in _R4_SET), 3)
    r5_subset = round(sum(v for k, v in timings.items() if k in _R5_SET), 3)
    # Steal-normalized subtotals: divide each frozen subset by this
    # run's relative steal (calibration_sec / the frozen round-5
    # reference calibration, same box, same code-frozen probe). A
    # normalized r5->r6 delta is then code, not host, so cross-round
    # comparison stops needing judge-side adjudication. The reference
    # constant is the round-5 driver run's published probe
    # (BENCH_r05.json: calibration_sec = 0.6668).
    steal = calib / _CALIBRATION_REF_R5 if calib > 0 else 1.0
    norm = lambda v: round(v / steal, 3)  # noqa: E731

    # Single comparison family (r10 verdict task 6): bench_ref_r10.json
    # is a quiet-window pooled-minima reference covering every headline
    # query under THIS protocol; the r6 family is retired (see the
    # constant block above). All vs-r10 fields share one of exactly two
    # clearly-suffixed bases (ADVICE r10): *_raw fields are unadjusted
    # wall ratios; unsuffixed fields are normalized per query by the
    # matching contention probe (clamped at 1.0 — see per_query_flags).
    r10_ref = _reference_timings("bench_ref_r10.json")
    shuffle_heavy = shuffle_heavy_queries(names)
    steal_shuffle = calib_shuffle / _SHUFFLE_CALIBRATION_REF_R8

    def _norm_ratio(k: str) -> float:
        s = steal_shuffle if k in shuffle_heavy else steal
        return (timings[k] / r10_ref[k]) / max(s, 1.0)

    comparable = [k for k in timings if r10_ref.get(k, 0.0) > 0]
    ratios_r10_raw = [timings[k] / r10_ref[k] for k in comparable]
    ratios_r10_norm = [_norm_ratio(k) for k in comparable]
    median_ratio_vs_r10_raw = (
        round(statistics.median(ratios_r10_raw), 4) if comparable else None
    )
    median_ratio_vs_r10 = (
        round(statistics.median(ratios_r10_norm), 4) if comparable else None
    )
    r10_ref_total = round(sum(r10_ref.get(k, 0.0) for k in timings), 3)
    flags_r10 = per_query_flags(
        timings, r10_ref, steal, steal_shuffle, shuffle_heavy
    )
    total_norm_vs_r10 = normalized_total(
        timings, steal, steal_shuffle, shuffle_heavy
    )
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # Self-labeling noise rule (r8 verdict task 3): BENCH_r08's raw
    # jpeg figure read as an 8x regression to anyone not cross-checking
    # the steal pair (shuffle probe 2.38x that round, judge's quiet-box
    # re-measure 2.7s on identical code). A run whose probes say the
    # host is stolen must say so IN the artifact.
    host_noisy = steal > 1.5 or steal_shuffle > 1.5
    if host_noisy:
        print(
            f"WARNING: host noisy (steal_factor={steal:.2f}, "
            f"steal_factor_shuffle={steal_shuffle:.2f} vs frozen probe "
            "references) — raw per-query figures in this artifact are "
            "not comparable across rounds; re-run when both probes read "
            "< 1.3x or read only the normalized/median fields",
            file=sys.stderr,
        )
    # Key order is load-bearing (r10 verdict task 2): the driver stores
    # only the LAST 2000 characters of stdout, so BENCH_r09/r10 kept the
    # flag annotations but lost headline_total, the normalized totals,
    # and host_noisy. Bulk dicts (queries/cold_queries/probe samples)
    # lead the full line so truncation eats them first, and a compact
    # summary-only JSON line is printed LAST so the driver's tail always
    # carries a complete, parseable record of the headline numbers.
    full = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        # ---- bulk (truncation-expendable) ----
        "queries": timings,
        "cold_queries": cold,
        "per_query_over_1p5x_vs_r10": flags_r10,
        "probe_samples": probe_samples,
        # ---- summary (must survive the tail) ----
        "cold_total": cold_total,
        "headline_total_r2_subset": r2_subset,
        "headline_total_r3_subset": r3_subset,
        "headline_total_r4_subset": r4_subset,
        "headline_total_r5_subset": r5_subset,
        "headline_total_r2_subset_normalized": norm(r2_subset),
        "headline_total_r3_subset_normalized": norm(r3_subset),
        "headline_total_r4_subset_normalized": norm(r4_subset),
        "headline_total_r5_subset_normalized": norm(r5_subset),
        "headline_total_normalized": norm(total),
        "calibration_sec": calib,
        "calibration_shuffle_sec": calib_shuffle,
        "calibration_ref_r5_sec": _CALIBRATION_REF_R5,
        "calibration_shuffle_ref_r8_sec": _SHUFFLE_CALIBRATION_REF_R8,
        "steal_factor": round(steal, 4),
        "steal_factor_shuffle": round(steal_shuffle, 4),
        "host_noisy": host_noisy,
        "median_ratio_vs_r10": median_ratio_vs_r10,
        "median_ratio_vs_r10_raw": median_ratio_vs_r10_raw,
        "median_ratio_vs_r10_n": len(comparable),
        "headline_vs_r10_ref": (
            round(total_norm_vs_r10 / r10_ref_total, 4)
            if r10_ref_total > 0
            else None
        ),
        "headline_vs_r10_ref_raw": (
            round(total / r10_ref_total, 4) if r10_ref_total > 0 else None
        ),
        "flagged_over_1p5x_vs_r10_count": len(flags_r10),
        "shuffle_heavy_n": len(shuffle_heavy),
        "sf": sf_val,
    }
    print(json.dumps(full))
    print(json.dumps(summary_line(full)))
    spark.stop()


if __name__ == "__main__":
    main()
