"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round-4 verdict #1 — the headline must survive the
artifact pipeline):

- stdout line 1: the FULL result blob as one JSON object, with the gated
  totals (``value``/``value_warm``) as its LAST keys.
- stdout final line: a SHORT summary object repeating ``metric``/``value``/
  ``unit``/``value_warm``/``queries``/``sf`` — small enough that any
  tail-truncating recorder keeps it intact, so ``"value":`` is always on
  the permanent record even if the long line is cut.
- ``bench_out.json`` next to this file: the full blob, pretty-printed, for
  committing into the repo each round.

Materialization uses the noop datasource sink — full execution, no
driver-side collect cost.

Methodology (round-3/4/5 verdicts):

- **Warmup**: one untimed throwaway query right after session start eats
  the JVM/codegen/session warmup that otherwise lands in the first timed
  sample (q1's first cold sample read 6.4 s vs 0.88/0.82 in round 4).
- **Hygiene**: cache/broadcast/Python-worker state left by one query
  inflated the next one's reading by up to 2×, so every timed run starts
  from a cleared cache and cleared feed/cascade/CC memos.
- **Adaptive median cold**: iterative/codegen-heavy entries (dedup_clusters
  measured 9.5 vs 31.4 s in back-to-back runs) make a single cold sample
  untrustworthy; each entry — headline, scale-path AND extension — is timed
  at least twice cold, with a THIRD sample only when the first two disagree
  by more than 15% (stable entries don't pay for it, so the whole bench
  stays inside any driver timeout).  The per-query number is the MEDIAN of
  collected samples, all of which are reported (``queries_cold_runs`` /
  ``extension_cold_runs``) so variance itself is on the record.
- **Cold AND warm totals**: ``value`` (the headline, what the 2× gate in
  BASELINE.md applies to) is the sum of median-cold runs — the cost a fresh
  session pays per query with nothing shared.  ``value_warm`` sums one
  in-process re-run per query with plan/JIT state AND the Python-side
  feed/cascade memos left hot — deliberately: a long-lived session keeps
  its memos, so the warm number measures the steady state such a session
  actually pays (round-4 advisory asked the docstring to match the code;
  the code is what's intended).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _reset(spark):
    """Clear cross-query state so each entry is measured cold: cached
    feeds/bands/CC labels from previous entries would turn downstream scans
    into memory reads and upstream ones into cache-build overhead."""
    import gc

    spark.catalog.clearCache()
    from mistocksync_spark.plans import feeds, queries

    feeds._FEED_MEMO.clear()
    queries._MEMO.clear()
    # the memos hold localCheckpoint()ed frames whose executor blocks are
    # only released when the JVM ContextCleaner sees the RDD refs die —
    # force the Python side promptly, or dead checkpoint blocks from
    # earlier entries pile up and GC-pressure later samples (the r7
    # ngram_jaccard_prefix 4.8 s / 31.8 s cold scatter)
    gc.collect()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cold_samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))
    # SPARK_GRAFT_BENCH_SET=headline: time only the frozen headline set
    # (scale-ladder passes above sf0.1 — the full extension sweep there is
    # hours, while the headline set is the gated number).
    headline_only = os.environ.get("SPARK_GRAFT_BENCH_SET", "") == "headline"

    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.session import get_spark

    # Headline set: the flagship aggregation, the matching cascade stages,
    # the merge-source join, audit, and the scale extensions.  Membership is
    # FROZEN for baseline comparability (BASELINE.md pins the gate).
    headline = [
        "q1_pricing_summary",
        "exact_article_match",
        "new_items",
        "price_update_join",
        "bracket_code_match",
        "product_code_match",
        "fuzzy_match",
        "duplicate_audit",
        "price_merge",
        "report_matches_sheet",
        "events_hourly",
        "exact_dedup",
        "minhash_lsh_pairs",
        "simhash_dedup_pairs",
        "ngram_jaccard_pairs",
        "dedup_clusters",
        "doc_quality",
        "embedding_topk",
        "embedding_near_dup",
        "events_asof",
        "user_sessions",
    ]
    headline = [q for q in headline if q in QUERIES]

    # Scale-path variants measured alongside (NOT in the headline total):
    # the alternative plans that take over at 100× candidate volume, benched
    # so the switchover point is a recorded number, not an argument
    # (round-2 verdict: the ngram fuzzy path was "argued, not measured").
    scale_paths = [q for q in ["fuzzy_match_ngram"] if q in QUERIES]

    # Extension operators (NOT in the headline total — membership there is
    # frozen): the numbers exist so new operators never ship without a
    # recorded cost.
    extensions = [
        q
        for q in [
            "embedding_knn_join",
            "mixture_plan",
            "embedding_contamination",
            "dedup_cluster_histogram",
            "events_ohlc",
            "events_funnel",
            "events_funnel_1h",
            "exact_dedup_stream",
            "pii_redact",
            "boilerplate_paragraphs",
            "boilerplate_strip",
            "doc_chunks",
            "event_transitions",
            "user_retention",
            "events_gapfill",
            "events_anomaly",
            "gopher_quality",
            "rare_token_score",
            "event_transitions_stream",
            "incremental_dedup_merge",
            "incremental_dedup_merge_stateful",
            "incremental_dedup_merge_pruned",
            "incremental_dedup_summary",
            "incremental_dedup_stream",
            "incremental_embedding_dedup",
            "incremental_embedding_dedup_stateful",
            "embedding_topk_ivf_stored",
            "embedding_topk_ivf_stored_recall",
            "ivf_index_rebuild",
            "ivf_recall_drift",
            "embedding_near_dup_ivf",
            "embedding_near_dup_ivf_recall",
            "incremental_embedding_dedup_ivf",
            "incremental_embedding_dedup_ivf_pruned",
            "incremental_embedding_dedup_ivf_stream",
            "embedding_quantize",
            "events_value_histogram",
            "lineitem_profile",
            "embedding_topk_pq",
            "q3_shipping_priority",
            "url_audit",
            "domain_histogram",
            "dedup_graph_degrees",
            "events_winsorized",
            "media_frame_manifest",
            "events_pivot_daily",
            "events_rollup",
            "orders_referential_audit",
            "q5_local_supplier_volume",
            "corpus_prepare",
            "events_value_deciles",
            "events_forecast_snaive",
            "events_mad_outliers",
            "events_forecast_backtest",
            "mixture_apply",
            "events_stickiness",
            "customer_rfm",
            "chunk_dup_rate",
            "ngram_containment_pairs",
            "dedup_graph_triangles",
            "dedup_graph_clustering",
            "event_trigrams",
            "orders_yoy_growth",
            "source_mix_drift",
            "events_interarrival",
            "ngram_jaccard_prefix",
            "events_gapfill_interp",
            "session_purchases",
            "events_stickiness_approx",
            "brand_capacity_inventory",
            "events_dow_hour_heatmap",
            "embedding_topk_ivf_recall",
            "embedding_topk_ivf_trained_recall",
            "embedding_topk_pq_recall",
            "q4_order_priority",
            "q6_revenue_forecast",
            "q10_returned_items",
            "q13_order_count_histogram",
            "q14_promo_revenue_share",
            "q18_large_volume_customers",
            "q19_bracketed_revenue",
            "q22_dormant_high_balance",
            "bloom_bits",
            "bloom_contamination",
            "charlm_score",
            "hashed_quality_logit",
            "source_length_ks",
            "q2_min_cost_supplier",
            "q15_top_supplier",
            "q21_waiting_supplier",
            "q7_nation_volume",
            "q8_market_share",
            "q9_product_profit",
            "q11_important_stock",
            "q12_priority_by_status",
            "q16_supplier_breadth",
            "q17_small_quantity_revenue",
            "q20_dominant_supplier",
            "semantic_dedup",
            "semantic_dedup_scaled",
            "dsir_weights",
            "purchase_view_join_stream",
            "bpe_pair_counts",
            "token_cms_estimate",
            "events_zorder_buckets",
            "lineitem_correlations",
            "events_cuped",
            "bracket_code_match_dimi",
            "product_code_match_dimi",
            "event_type_counts_salted",
            "minhash_estimate_quality",
            "stratified_sample",
            "lang_id",
            "media_features",
            "event_props_stats",
            "events_rolling_rate",
            "events_in_incident_windows",
            "dup_rate_by_source",
            "source_quality_profile",
            "lineitem_quality_rules",
            "lineitem_key_skew",
            "doc_split_summary",
            "lsh_pair_quality",
            "vector_pair_quality",
            "events_bootstrap_ci",
            "duplicated_spans",
            "duplicated_spans_anchored",
            "duplicated_span_coverage",
            "span_anchor_recall",
            "events_salted_dim_join",
            "dedup_pagerank",
            "dedup_canonicals",
            "bpe_learned_merges",
            "bpe_token_stats",
            "events_cusum_drift",
            "doc_hashed_tfidf",
            "corpus_prepare_v2",
            "corpus_prepare_v3",
            "pack_emission_manifest",
            "tombstone_purge_emission",
            "vector_purge_emission",
            "purge_remediation_emission",
            "incremental_prepare_tick",
            "incremental_prepare_tick_v3",
            "incremental_prepare_tick_stored",
            "incremental_prepare_tick_v3_stored",
            "incremental_prepare_stream",
            "incremental_prepare_stream_v3",
            "prepare_vocab_drift",
            "prepare_vocab_rebuild",
            "prepare_holdout_rebuild",
            # r13: the three warmup-tuple entries, timed explicitly so
            # "registered => recorded cost" holds with no exceptions
            "top_event_types",
            "product_code_extract",
            "bracket_code_extract",
            # r13: the pre-guard tail — r1–r5 registrations that predate
            # the dark-code bench guard; added so "registered => costed"
            # holds for the WHOLE registry (r12 verdict item 5).  Nearly
            # all are sub-second scalar/report/filter entries.
            "article_writeback_audit",
            "battery_capacity_extract",
            "clean_article_dimi",
            "clean_article_vitya",
            "clean_name",
            "comparison_summary",
            "contamination_check",
            "corpus_filter",
            "corpus_filter_summary",
            "dedup_survivors",
            "dimi_balance_filter",
            "doc_fingerprint",
            "doc_length_quantiles",
            "doc_length_quantiles_approx",
            "doc_packing",
            "doc_packing_summary",
            "doc_repetition",
            "embedding_dedup_survivors",
            "embedding_near_dup_recall",
            "embedding_topk_ivf",
            "embedding_topk_ivf_trained",
            "embedding_topk_lsh",
            "events_hourly_stream",
            "events_sliding",
            "events_sliding_stream",
            "events_throttle_stream",
            "exact_article_match_dimi",
            "fuzzy_annotated_new_items",
            "map_supplier_to_base",
            "max_article",
            "min_base_price",
            "new_items_dimi",
            "new_items_for_base",
            "new_items_for_base_dimi",
            "null_profile",
            "price_changes",
            "price_filter",
            "price_filter_loss",
            "price_warnings",
            "report_price_changes_sheet",
            "report_warnings_sheet",
            "row_insert_autonumber",
            "safe_color",
            "snapshot_diff",
            "supplier_feed_rows",
            "tfidf_top_terms",
            "token_counts",
            "top_event_types_per_user",
            "user_sessions_stream",
            "vitya_balance_filter",
            "vocab_topk",
            "doc_clusters_kmeans",
            "doc_cluster_terms",
            "cluster_balanced_sample",
            "orders_bucketed_join",
            "user_hll_estimate",
            "user_hll_merge_audit",
            "user_hll_stream",
        ]
        if q in QUERIES
    ]
    if headline_only:
        scale_paths, extensions = [], []

    spark = get_spark("bench", cpus=int(cpus))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    def run_once(name: str) -> float:
        t0 = time.monotonic()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.monotonic() - t0, 3)

    def calibration() -> float:
        """Host-tide canary (r16 verdict item 6): a fixed, data-independent
        CPU-bound job — bit_xor of xxhash64 over range(4e9) — timed at
        session start and end so round-over-round PERF comparisons can
        normalize out the ±25% host drift documented in r15/r16.  bit_xor,
        not sum: summing uniform 64-bit hashes overflows long under ANSI
        mode.  4e9 rows ≈ 2–3 s on local[32] — big enough that scheduler
        jitter is a small fraction of the reading, small enough to be
        negligible in the bench wall.  Pure addition to the blob; headline
        membership and totals untouched."""
        from pyspark.sql import functions as F

        def run() -> float:
            t0 = time.monotonic()
            (
                spark.range(4_000_000_000)
                .select(F.expr("bit_xor(xxhash64(id))").alias("h"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            return round(time.monotonic() - t0, 3)

        spark.sparkContext.setJobDescription("calibration: bit_xor(xxhash64) over range(4e9)")
        run()  # untimed: eat the canary's own codegen compile (~3 s once)
        dt = run()  # the instrument: steady-state CPU throughput reading
        spark.sparkContext.setJobDescription(None)
        return dt

    def sample_cold(name: str) -> list[float]:
        samples = []
        for i in range(cold_samples):
            if i >= 2 and max(samples) <= 1.15 * min(samples):
                break  # first two agree within 15% — skip the tiebreaker
            _reset(spark)
            samples.append(run_once(name))
        return samples

    # untimed throwaways: eat JVM/session warmup plus the giant feed/stage1
    # and code-extraction codegen compiles (shared by the cascade- and
    # code-match-backed entries; the unified-code regex class alone kept
    # product_code_match's first samples at ~2× its steady cost) before
    # sample 1 — state is reset afterwards, so timed runs still rebuild
    # their own caches/memos from scratch.  minhash_lsh_pairs joined the
    # list in round 7: the shingle→minhash→band pipeline's first-touch
    # codegen landed on whichever entry ran it first (triangles sample 1
    # measured 7.96 s vs 2.9 s steady locally), which is exactly the r6
    # 3.2× sample spread on the minhash_lsh_pairs headline and the
    # dedup_graph_clustering cold scatter — warm the classes once,
    # untimed, so every timed sample measures the same steady-state cost.
    # simhash_dedup_pairs joined in round 8: the simhash signature +
    # banded-hamming classes are distinct from the minhash pipeline's, and
    # their first touch landed on whichever CC-family entry ran first
    # (dedup_cluster_histogram sampled 21.5 s first-touch vs 8.1-8.8 s
    # steady in isolation).
    # product_code_match joined in round 12 (the r11 +60% watch item,
    # profiled): the extraction-class warmups compile the regex codegen
    # but never the full cascade JOIN pipeline, whose generated classes
    # have a LONG tiered-JIT warm-in — measured cold walls across 12
    # successive reset runs decline monotonically 9.7 -> 5.2 s (and
    # 7.84/6.25/6.19/.../5.6 over 10 runs after the old warmup), so
    # 2-3 adaptive samples landed on the early slope and WHERE depended
    # on session history — the recorded 4.1->7.8 driver oscillation.  One
    # untimed full-cascade run moves every timed sample onto the same
    # steady state (BASELINE.md round-12 amendment).
    for wq in ("top_event_types", "new_items", "product_code_extract",
               "bracket_code_extract", "minhash_lsh_pairs",
               "simhash_dedup_pairs", "product_code_match"):
        if wq in QUERIES:
            _reset(spark)
            run_once(wq)

    calibration_start = calibration()

    timings, cold_runs, warm = {}, {}, {}
    for name in headline:
        cold_runs[name] = sample_cold(name)
        timings[name] = round(statistics.median(cold_runs[name]), 3)
        warm[name] = run_once(name)  # no reset: plan/JIT/cache/memos hot

    scale_timings, scale_runs = {}, {}
    for name in scale_paths:
        scale_runs[name] = sample_cold(name)
        scale_timings[name] = round(statistics.median(scale_runs[name]), 3)

    ext_timings, ext_runs = {}, {}
    for name in extensions:
        ext_runs[name] = sample_cold(name)
        ext_timings[name] = round(statistics.median(ext_runs[name]), 3)

    total = round(sum(timings.values()), 3)
    total_warm = round(sum(warm.values()), 3)

    # the fuzzy_match entry times the FULL candidate batch; report the
    # post-prefilter candidate-pair count (upper bound on difflib-scored
    # pairs under bounded pruning) so the workload scale is explicit
    from mistocksync_spark.plans.queries import fuzzy_match_pair_count

    _reset(spark)
    pairs = fuzzy_match_pair_count(spark, sf_dir)

    calibration_end = calibration()

    # Full blob: totals LAST so a head-truncating window still shows the
    # per-query data and the dict ends with the gated numbers.
    blob = {
        "metric": "headline_queries_wall_sec",
        "unit": "sec",
        "methodology": "sum of per-query median-of-%d cold runs (cache+memos cleared); see BASELINE.md" % cold_samples,
        "sf": float(sf),
        "queries": timings,
        "queries_cold_runs": cold_runs,
        "queries_warm": warm,
        "scale_path_queries": scale_timings,
        "scale_path_cold_runs": scale_runs,
        "extension_queries": ext_timings,
        "extension_cold_runs": ext_runs,
        "fuzzy_match_candidate_pairs": pairs,
        "calibration_sec_start": calibration_start,
        "calibration_sec_end": calibration_end,
        "value": total,
        "value_warm": total_warm,
    }
    print(json.dumps(blob))
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
    )
    try:
        with open(out_path, "w") as f:
            json.dump(blob, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: stdout still carries everything
    # Short tail-survivable summary: ALWAYS the last stdout line, so any
    # tail window preserves the gated headline number.
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_sec",
                "value": total,
                "unit": "sec",
                "value_warm": total_warm,
                "sf": float(sf),
                "queries": timings,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
