#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: per-query wall time of building the query's DataFrame plus
writing its full output to the ``noop`` sink (``count()`` would let
Catalyst prune every projected column it does not need). Each sample goes
through ``scripts/profile_query.py``'s ``Profiler.sample``, so every query
also gets its full per-layer record (build jobs and shuffle bytes, planning
phases, execution jobs, stages, tasks and per-exchange bytes), written to
``bench_detail.json``. Steady-state measurement: one untimed warm execution
of each query AT THE MEASURED SF precedes the timed runs — this compiles
whole-stage codegen for the exact physical plan that will be timed
(warming at a smaller SF is not enough: AQE picks different physical plans
at different data sizes, so the codegen cache misses) and takes JVM JIT
out of the measurement. Each query is then timed four times as two spread
passes of two consecutive samples (see the sampling comment in main) and
the MINIMUM is reported — the minimum is the standard noise-robust
estimator of a deterministic workload's cost (any excess over it is
scheduler/host interference, not query work; this box shows 2-5×
single-run spikes). The reported number is what a user's Nth query
execution costs, which is the quantity that matters at 100 TB.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "scripts")]

from apache_flink_essentials_spark import get_spark  # noqa: E402
from apache_flink_essentials_spark import registry  # noqa: E402
from apache_flink_essentials_spark.session import default_cpus  # noqa: E402
from profile_query import Profiler, duck, oracle_s  # noqa: E402

HEADLINE = [
    # TPC-H-style core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q4_priority_semijoin",
    "q7_nation_volume",
    "q8_market_share",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    # event analytics
    "funnel_signup_to_purchase",
    "events_daily_rollup",
    "cohort_retention_weekly",
    # windowing core competency
    "w1_tumbling_hourly",
    "w2_sliding_1h_30m",
    "w3_session_30m_user",
    "wf7_top1_sliding_window",
    # multi-stream
    "j2_window_join_1h",
    "j3_interval_join_10m",
    "j5_asof_join_1h",
    "j4_connect_ratio",
    # north-star LLM-pipeline ops
    "dedup_exact",
    "dedup_minhash_lsh",
    "curation_pipeline",
    "text_stats",
    "text_lang_detect",
    "vec_knn_bruteforce",
    "vec_ann_lsh",
    "vec_ivf_search",
    "vec_cosine_pairs_blocked",
    # curation / clustering tier
    "dedup_cc_canonical",
    "dedup_incremental",
    "curation_stratified_sample",
    "text_repetition",
    "curation_pack_sequences",
    # sequential analytics
    "events_user_gap_stats",
    "events_top2_per_user",
    "vec_centroid_outliers",
    # profiling / diagnostics tier
    "skew_profile_suppkey",
    "events_zscore_outliers",
    "profile_documents",
    "vec_quantize_int8",
    "vec_knn_quantized",
    "cdc_latest_state",
    # lakehouse / search / incremental tier
    "cdc_point_in_time",
    "dedup_near_incremental",
    "text_bm25",
    "text_oov_rate",
    "w3_session_capped",
    "curation_weighted_sample",
    "cdc_snapshot_diff",
    "events_quality_expectations",
    "curation_boilerplate_chunks",
    "curation_fused_score",
    "ts_ohlc_hourly",
    "ts_time_weighted_avg",
    "funnel_three_step",
    "fuzzy_name_pairs",
    "vec_pca_project",
    "events_wau_7d",
    "events_daily_top_types",
    # round-2 additions: substring dedup, CEP, interpolation, web curation
    "dedup_substring_spans",
    "events_cep_error_triple",
    "events_cep_abandoned_view",
    "ts_interpolate_hourly",
    "web_url_dedup",
    "curation_dedup_report",
    "olap_incremental_rollup",
    "events_markov_transitions",
    "curation_curriculum_order",
    "curation_contrastive_pairs",
    "vec_mmr_diversify",
    "ts_ewma_anomaly",
    "text_winnow_fingerprints",
    "text_winnow_candidates",
    "ts_seasonal_anomalies",
    # round-3 additions: containment dedup (heavy blocked-pair work — the
    # class of workload the engine exists for), last-touch attribution
    "dedup_containment",
    "events_attribution_last_touch",
    # round-4 additions: bigram LM scoring, DSIR importance weights,
    # expression-only EWMA, ANN recall evaluation, LSH embedding dedup,
    # inverted index (now scalar-postings), quality-aware exact dedup
    "text_bigram_logprob",
    "curation_dsir_weights",
    "ts_ewma_smooth",
    "vec_knn_recall",
    "vec_embedding_dedup",
    "vec_embedding_dedup_auto",
    "text_inverted_index",
    "dedup_exact_best",
    # round-5 additions: Gopher rule battery, CCNet paragraph dedup,
    # product-quantization ANN (index build + ADC search in one query —
    # the heaviest by design, like vec_ivf_search), dataset-card report
    "text_gopher_quality",
    "dedup_paragraph",
    "vec_pq_search",
    "curation_dataset_card",
    "vec_ivfpq_search",
    "curation_perplexity_buckets",
    # round-5 session additions: portable (oracle-checkable) HLL +
    # count-min sketches, UniMax language sampling, token entropy
    "sketch_hll_distinct",
    "sketch_countmin_topk",
    "curation_unimax_weights",
    "text_token_entropy",
    "j6_semijoin_rollup",
    # round-7 additions: bit-exact fixed-point PageRank (iterative graph
    # tier — Spark's per-iteration join/agg beats DuckDB's unrolled CTE
    # ~3.5× at sf0.1), oracle-checkable greedy MMR, BPE first-merge pair
    # statistics. The fixed-constant apply twins (vec_pq_adc,
    # vec_ivfpq_adc, vec_pca_apply, vec_semdedup_apply) stay sweep-only:
    # they anchor correctness of machinery whose FITTED forms are already
    # benched.
    "graph_pagerank_fixedpoint",
    "vec_mmr_exact",
    "text_bpe_pair_stats",
    "text_bpe_train_merges",
    "text_bpe_segment",
    # round-7 session additions: hashing-trick quality classifier (the
    # zero-shuffle scan-stage fold shape), cross-document n-gram novelty
    # (gram-shuffle window min), portable histogram quantiles (mergeable
    # integer partials, n_buckets-row shuffle)
    "text_hash_classifier",
    "text_novelty",
    "sketch_quantile_bands",
    # round-7 session additions (batch 2): RAKE keyphrases (doc-keyed
    # join/agg chain), chi-square independence cells (cell-grid windows),
    # salt-and-replicate hot-key join (the skew-mitigation plan itself)
    "text_rake_keyphrases",
    "events_chi2_type_band",
    "skew_replicated_join",
    # round-7 session additions (batch 3): tokenizer coverage curve
    # (type-table ranking), market-basket rules (basket-bounded self-join),
    # per-group histogram quantiles
    "text_vocab_coverage",
    "events_assoc_rules",
    "events_quantile_by_type",
    # round-7 session additions (batch 4): integer-exact lag correlation
    # (binned-series self-join), duration-driven frame-sample planning
    "ts_lag_correlation",
    "multimodal_frame_plan",
    # round-7 session additions (batch 5): MinHash estimator audit (the
    # number production trusts when skipping exact verification), soft
    # dedup weights (down-weight duplicates instead of dropping)
    "dedup_minhash_estimate",
    "curation_softdedup_weights",
    # round-7 session additions (batch 6): IVF index health (the probe-
    # cost diagnostic), graph degree histogram (the pre-iteration skew read)
    "vec_ivf_balance",
    "graph_degree_stats",
    # round-7 session additions (batch 7): Fellegi-Sunter probabilistic
    # record linkage (integer micro-log weights), language-ID confusion
    "er_fs_match_weights",
    "text_langid_confusion",
    # round-7 session additions (batch 8): HLL set algebra (union via
    # register max-merge, intersection by inclusion-exclusion)
    "sketch_hll_setops",
    # round-7 session additions (batch 9): CUSUM level-shift detection
    # over the binned relation
    "ts_cusum_changepoints",
    # round-8 batch 1: degree-ordered triangle census (the one genuinely
    # heavy graph aggregation — Spark beats DuckDB at this shape),
    # region-scoped supplier audience overlap, trailing-window item
    # co-purchase, per-type OLS trend, multi-lag ACF, greedy token-budget
    # selection, fused referential-integrity audit, Zipf ln-ln fit
    "graph_triangle_stats",
    "graph_supplier_overlap",
    "reco_item_cooccurrence",
    "events_ols_trend",
    "ts_acf",
    "curation_token_budget",
    "dq_referential_audit",
    "text_zipf_fit",
    # round-8 batch 2: Church-Gale burstiness + hapax richness (corpus
    # statistics tier), seasonal-naive forecastability screen, FS-match
    # entity clustering (Spark's iterative CC beats DuckDB's recursive
    # CTE ~0.7x at sf0.1 — the dedup_cc_canonical story again)
    "text_burstiness",
    "text_hapax_ratio",
    "ts_seasonal_naive",
    "er_entity_clusters",
    # round-12: corpus-bounded dedup output contract (per-doc argmax over
    # the posting-join pair stream) and incremental ER (batch folded into
    # settled clusters, corpus never re-clustered)
    "dedup_ngram_best_match",
    "er_assign_incremental",
    "dedup_containment_best",
    "vec_cosine_best_match",
    "dedup_ngram_best_match_capped",
    "dedup_simhash_best",
    # r12b: simhash + embedding legs of the incremental-ingest matrix
    "dedup_simhash_incremental",
    "vec_embedding_dedup_incremental",
    # round-8 batch 3-4: join-size pre-audit (predicts the join it never
    # runs), Kaplan-Meier gap survival, per-source Jensen-Shannon drift.
    # graph_kcore and er_golden_record stay sweep-only: their bench cost
    # duplicates already-benched shapes (triangle census / FS+CC pair).
    "dq_join_size_audit",
    "events_km_gap_survival",
    "text_js_divergence",
    # round-8 batch 5: difference-in-differences launch evaluation (one
    # scan, 4-cell decimal-exact aggregate) and the quality-signal
    # calibration audit (density deciles x gopher pass rate)
    "events_diff_in_diff",
    "curation_quality_calibration",
    "ts_seasonality_strength",
    # round-9 additions: Kneser-Ney bigram smoothing (size-adaptive
    # window/join forms), Theil-Sen robust trend (bounded-quadratic
    # pairwise median over the binned relation), signed ±1 random
    # projection (zero-shuffle exact-integer JL/SimHash), schema-drift
    # column profiler (single-scan multi-distinct Expand).
    # graph_assortativity stays sweep-only: its bench cost is the
    # co-purchase edge-build shape already benched by
    # graph_triangle_stats (the graph_kcore precedent).
    "text_kneser_ney_top20",
    "ts_theilsen_trend",
    "vec_signed_projection",
    "dq_schema_drift",
    # round-9 batch 2: Holt linear smoothing (Spark's one array fold vs
    # DuckDB's recursive CTE re-scanning the bin CTE per step — 0.04×,
    # the pagerank_fixedpoint story), Flesch readability (scan-stage
    # regex counts, 1.2×), SPC p-chart (exact integer control
    # predicate), Hamming-space SimHash KNN + its recall harness (the
    # one ANN variant that is oracle-checkable end-to-end).
    "ts_holt_linear",
    "text_flesch",
    "dq_error_pchart",
    "vec_hamming_knn",
    "vec_hamming_recall",
    # round-9 batch 3: tokenizer fertility (per-lang subword/word
    # equity), embedding centroid drift (exact integer moments, counts
    # cancel in the cosine). sketch_bloom_fpr stays sweep-only: its
    # cost is ~8 small jobs over a 0.03 s anchor, and the md5-position
    # bucket machinery is already benched via sketch_hll_distinct /
    # sketch_countmin_topk.
    "text_tokenizer_fertility",
    "vec_centroid_drift",
    # round-9 batch 5: Holt-Winters additive seasonal smoothing — the
    # recursive twin with rotating LIST state; Spark's one array fold
    # vs DuckDB's per-step list-carrying recursion is 0.04× (0.6 s vs
    # 17.3 s). graph_modularity (edge-build duplicate shape) and
    # cohort_value_curves (0.04 s anchor, retention precedent) stay
    # sweep-only.
    "ts_holt_winters",
    # round 10: functional-dependency g3 audit (parallel per-FD
    # branches of column-pruned two-level hash-aggs — the
    # referential-audit shape, proven faster than a tagged-union
    # single job in the COVERAGE.md round-10 contrastive measurement),
    # and KMV set-similarity (two distinct-hash top-k sketches + a
    # 2k-row union membership pass; exact audit rides along)
    "dq_fd_violations",
    "sketch_kmv_jaccard",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # shuffle partitions at half the core count: at bench SF the shuffles
    # move KBs, so per-stage task-scheduling overhead dominates — halving
    # the task count is a measured ~12% total win with zero plan changes
    # (AQE still re-sizes every exchange from map-output bytes; a real
    # cluster deployment sizes this to data, not cores).
    cpus = default_cpus()
    spark = get_spark(
        app_name="bench",
        shuffle_partitions=max(8, cpus // 2),
        extra_conf={
            # 76 queries × several codegen stages overflow the default
            # 100-entry generated-class cache and the 240 MB JIT code
            # cache; once either evicts, every re-run recompiles its
            # stages (measured as run-to-run aggregate drift). Both are
            # sized for the full headline set here — a production session
            # running a fixed workload wants the same.
            "spark.sql.codegen.cache.maxEntries": "1000",
            "spark.driver.extraJavaOptions":
                "-XX:ReservedCodeCacheSize=512m",
        },
    )
    spark.range(1).count()  # JVM warm-up; session startup not billed to q1
    prof = Profiler(spark)

    # warm pass at the measured SF (see module docstring: AQE re-plans per
    # data size, so only same-SF warming hits the codegen cache)
    for name in HEADLINE:
        try:
            prof.sample(name, sf_dir)
        except Exception:  # noqa: BLE001
            pass

    # Sampling structure: TWO spread passes × TWO consecutive samples,
    # min of the four. The two consecutive samples keep the query's
    # generated code hot (cycling all 76 queries between samples thrashes
    # the codegen class cache and the JIT code cache — measured +23%
    # aggregate under fully pass-major sampling); the two passes spread a
    # query's sample-pairs minutes apart so one transient host/JVM stall
    # cannot poison every sample (measured 1.73×→2.10× aggregate drift
    # between identical back-to-back-only runs).
    PASSES, PER_PASS = 2, 2
    records: dict[str, dict] = {}
    for _ in range(PASSES):
        for name in HEADLINE:
            for _ in range(PER_PASS):
                rec = prof.sample(name, sf_dir)
                if rec["wall_s"] < records.get(name, {}).get("wall_s", float("inf")):
                    records[name] = rec
    timings = {n: round(r["wall_s"], 3) for n, r in records.items()}
    for name in HEADLINE:
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # DuckDB anchor: the same oracle SQL on the same parquet at the same SF
    # (the reference repo publishes no numbers — BASELINE.md — so a tuned
    # single-node engine is the honest "within 2×" comparator). Same
    # methodology: one warm run, min of four, full consumption.
    duck_timings: dict[str, float] = {}
    try:
        con = duck(sf_dir)
        for name in HEADLINE:
            sql = registry.ORACLES.get(name)
            if not sql:
                continue  # rows-only ops (approx/iterative) have no oracle
            try:
                duck_timings[name] = round(oracle_s(con, sql), 3)
            except Exception as ex:  # noqa: BLE001
                print(f"# duckdb {name} failed: {str(ex)[:120]}", file=sys.stderr)
    except ImportError:
        pass

    common = [n for n in timings if n in duck_timings]
    duck_total = round(sum(duck_timings[n] for n in common), 3)
    spark_common = round(sum(timings[n] for n in common), 3)
    ratio = round(spark_common / duck_total, 3) if duck_total > 0 else None
    sf_num = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full-precision record (incl. per-query DuckDB times) goes to a side
    # file; stdout gets ONE compact line. The driver records only a bounded
    # tail of stdout, so the line is kept short (2-decimal per-query times,
    # no whitespace) and the headline scalars are serialized LAST so they
    # survive even if a future longer line gets tail-truncated.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf_num,
        "cpus": cpus,
        "sf_dir": sf_dir,
        "queries": timings,
        "duck_queries": duck_timings,
        "duck_total_common": duck_total,
        "spark_total_common": spark_common,
        "spark_over_duck_ratio": ratio,
        "records": records,
    }
    try:
        with open(os.path.join(HERE, "bench_detail.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass

    # The driver parses the final JSON line only if it fits inside its
    # 2000-char output tail (round 2's 4.6k-char line came back unparsed).
    # Two r12-verdict contract fixes here:
    #   * the line echoes "cpus" and the sf dir so the driver can confirm
    #     the $SPARK_GRAFT_CPUS / $SPARK_GRAFT_SF_DIR knobs took effect
    #     (r12 flagged suspect_cpus_ignored because it could not);
    #   * per-query line coverage is STABLE round-over-round: names that
    #     appeared in the previous round's line (read back from the newest
    #     BENCH_r*.json driver artifact) are pinned first in the keep
    #     priority, so adding new slow queries can no longer evict old
    #     ones from the line (r12 booked 11 phantom "dropped_from_bench"
    #     rows that way). Extras fill whatever budget remains, slowest
    #     first; full times for everything live in bench_detail.json.
    prev_line_names: set[str] = set()
    try:
        import glob
        import re

        cand = sorted(
            glob.glob(os.path.join(HERE, "BENCH_r*.json")),
            key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
        )
        # skip alternate-cpu runs like BENCH_r12_c8.json: their lines are
        # shorter (lower-core reruns) and would shrink the pinned set
        cand = [p for p in cand if re.search(r"BENCH_r\d+\.json$", p)]
        if cand:
            with open(cand[-1]) as f:
                prev_line_names = set(
                    json.load(f).get("parsed", {}).get("queries", {})
                )
    except Exception:  # noqa: BLE001 — coverage pinning is best-effort
        prev_line_names = set()
    pinned = sorted(
        (n for n in timings if n in prev_line_names),
        key=timings.get,
        reverse=True,
    )
    extras = sorted(
        (n for n in timings if n not in prev_line_names),
        key=timings.get,
        reverse=True,
    )
    by_cost = pinned + extras
    # keep descends to 0, at which point the line carries scalars only —
    # never print an oversized keep=1 candidate (a single >1.9k-char line
    # would defeat the driver's 2000-char tail this loop exists to fit)
    for keep in range(len(by_cost), -1, -1):
        out = {
            "metric": "headline_queries_total_wall",
            "unit": "sec",
            "sf": sf_num,
            "cpus": cpus,
            "sf_dir": os.path.basename(sf_dir.rstrip("/")),
            "n_queries": len(timings),
            "queries": {n: round(timings[n], 2) for n in by_cost[:keep]},
            # 1-decimal on the anchor totals funds the cpus/sf_dir echo
            # inside the same 1900-char budget; full precision stays in
            # bench_detail.json and in the 3-decimal ratio below
            "duck_total_common": round(duck_total, 1),
            "spark_total_common": round(spark_common, 1),
            "value": total,
            "spark_over_duck_ratio": ratio,
        }
        line = json.dumps(out, separators=(",", ":"))
        if len(line) <= 1900 or keep == 0:
            break
    print(line)


if __name__ == "__main__":
    main()
