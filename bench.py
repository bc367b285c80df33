"""Headline benchmark: runs the engine's query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
full per-query JSON line {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec, ...}, "sf": ...} followed by a compact
summary line LAST, so a bounded tail capture always ends in one small
valid JSON object (VERDICT r5 item 1 — the ~4 KB per-query line alone
overflowed the driver's tail window two rounds running).

Each query is forced with a hash-of-every-column aggregate, not count():
Catalyst prunes Window/Project operators that don't affect cardinality, so
count() would time a cheaper plan than the query actually is. The hash
fold evaluates every output column of every row and returns one scalar.
Timings exclude session startup and the first warm-up action, and are the
MEDIAN of $SPARK_GRAFT_BENCH_TRIALS runs (default 3) per query — r4→r5
showed 2× per-query swings on an identical tree, so single-shot timings
are too noisy for round-over-round comparison (VERDICT r5 item 5).

Note on persisted silvers: queries that materialize a shared silver
(e.g. the dedup family's shingled/signature frames in queries/llmq.py)
pay the build in their FIRST trial only, so their median reports the
steady-state cached cost — the number that matters for a reused
artifact, but not comparable 1:1 against older single-shot rounds
(r4's 3.3s dedup_minhash_lsh vs r6's 0.12s is cache semantics, not a
27× kernel speedup; the kernel's true movement shows in cold trials
and SCALE_PROBE.md). Since round 9 the full JSON line carries that
split explicitly: ``"cold"`` maps each query to its FIRST trial (plan
+ any silver build), ``"queries"`` stays the median — so a
round-over-round mover can be attributed to kernel vs cache/session
effects from the committed artifacts alone (VERDICT r8 item 1).

Round-over-round drift is gated, not just recorded:
``tests/test_artifact_hygiene.py`` fails when the median per-query
ratio of the two latest committed BENCH_r*_local.json artifacts
exceeds 1.10 on their common set, unless the newer artifact carries an
``"explained"`` note (set ``SPARK_GRAFT_BENCH_NOTE`` when producing it).

Single-query movers are gated too (VERDICT r9 item 1 — the median gate
let a 1.95x mover ship): on a full run, any query whose fresh median
exceeds 1.5x its value in the latest committed local artifact is
automatically RE-RUN for another $SPARK_GRAFT_BENCH_TRIALS trials and
its median recomputed over ALL samples — the builder's hiccup policy
("inspect movers >1.5x and rerun rather than shipping a hiccup"),
mechanized. Re-run names land in the artifact's ``"rebenched"`` list;
a mover that SURVIVES the re-run is a real movement and should carry a
note in ``"explained_queries"`` (set ``SPARK_GRAFT_BENCH_QUERY_NOTES``
to a JSON object {query: note}). The hygiene test fails on any >1.5x
common-set mover that is neither rebenched nor explained.

Whole-session hiccups are gated too (VERDICT r10 item 2): a canary of
stable micro-queries runs BEFORE the timed sweep and compares against
the latest committed artifact; a slow session (canary median ratio
> 1.3) is retried up to 3 times with a wait, and the outcome — every
attempt's ratio plus the final ok/slow status — lands in the
artifact's ``"canary"`` field, replacing the r10 commit-message-only
session-discard judgment call with a recorded gate. The same canary
set is re-probed AFTER the sweep (``"end_ratio"``) so mid-run
degradation — which the start gate cannot see — is recorded evidence
rather than a post-hoc inference from rebenched-mover counts.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from securities_pricing_data_pipeline_spark.session import get_spark  # noqa: E402

# the headline set: every serving analytic + the heavy relational/LLM ops
BENCH_QUERIES = [
    "bars_ohlcv",
    "bars_rollup_multigrain",
    "bars_gapfill_locf",
    "bars_gapfill_interp",
    "q17_twap",
    "q18_rolling_median",
    "asof_pairs_spread",
    "corpus_drift_kl",
    "range_join_in_transit",
    "q1_market_totals",
    "q2_rolling_liquidity",
    "q3_liquidity_rank",
    "q4_segment_contribution",
    "q4b_sector_contribution",
    "q5_daily_returns",
    "q6_top_volume",
    "q7_volatility_topk",
    "q9_price_averages",
    "q10_zscore_anomalies",
    "q12_max_drawdown",
    "q13_beta",
    "q14_top_corr_pairs",
    "gini_volume_concentration",
    "sim_dimsum_cosine",
    "flagship_liquidity_top20",
    "j2_star_join",
    "a4_dedup_latest",
    "events_hourly_stats",
    "events_sessionize",
    "asof_event_bars",
    "events_retention",
    "events_funnel",
    "events_window_funnel",
    "events_cohort_retention",
    "events_markov_transitions",
    "events_km_survival",
    "q15_rsi",
    "q19_ewma",
    "q20_bollinger",
    "q21_stochastic",
    "q22_atr",
    "q23_obv",
    "q24_macd",
    "q25_donchian",
    "q26_williams_r",
    "q27_roc",
    "q28_keltner",
    "q29_pivot_points",
    "q30_sharpe",
    "q31_var_es",
    "q32_seasonality",
    "q33_market_breadth",
    "q34_sortino",
    "q35_calmar",
    "q36_amihud",
    "q37_momentum_deciles",
    "q38_capture_ratios",
    "q39_variance_ratio",
    "q40_info_ratio",
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q13_order_count_distribution",
    "tpch_q18_large_volume_customers",
    "w_cumulative_revenue",
    "topk_parts_per_brand",
    "basket_part_pairs",
    "pareto_abc_parts",
    "pivot_segment_status",
    "cube_priority_status",
    "rollup_region_nation_revenue",
    "w_month_open_close",
    "mode_order_priority",
    "percentile_quantity_exact",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "dedup_semantic_keep",
    "dedup_cluster_canonical",
    "sim_bruteforce_topk",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "text_quality_score",
    "text_unigram_logppl",
    "text_fingerprint",
    "text_token_count_bpe",
    "text_sentiment",
    "text_vocab_topk",
    "text_tfidf_topterms",
    "text_decontaminate",
    "corpus_filter_funnel",
    "sample_stratified",
    "sample_weighted_docs",
    "dq_profile_lineitem",
    "multimodal_frame_sample",
    "multimodal_resize_pixels",
    "events_dau_wau",
    "events_gap_quartiles",
    "q16_trend_slope",
    "tpch_q11_important_parts",
    "tpch_q21_waiting_suppliers",
    "emb_pq_codes",
    "emb_label_centroids",
    "graph_pagerank_suppliers",
    "graph_triangles_suppliers",
    "graph_assortativity_parts",
    "graph_communities_parts",
    "emb_kmeans",
    "sim_knn_classify",
    "sim_rrf_fusion",
    "text_chunk_windows",
    "events_variant_props",
    "events_session_window",
    "scd2_price_bands",
    "islands_trading_streaks",
    "pattern_down_streaks",
    "hist_price_buckets",
    "unpivot_ohlc_long",
    "w_price_position",
    "ar1_close_autocorr",
    "nest_order_lines",
    "hier_revenue_shares",
    "mad_price_outliers",
    "sql_window_running_share",
    "snapshot_diff_positions",
    "pit_band_lookup",
    "ri_orphan_lineitems",
    "dedup_lsh_bucket_audit",
    "text_segment_dedup",
    "export_shard_plan",
    "dq_profile_lineitem_exact",
    "dedup_incremental_minhash",
    "layout_zorder_plan",
    "sim_ivf_recall_eval",
    "dedup_cluster_size_hist",
    "dedup_source_overlap",
    "stream_events_hourly",
    "stream_events_dedup_keys",
    "stream_events_sessionize",
    "stream_events_interval_join",
    "stream_events_sliding",
    "stream_events_topk_users",
    "stream_events_cdc_upsert",
    "sql_lateral_topk_orders",
    "sql_pivot_order_status",
    "sketch_hll_weekly_merge",
    "sketch_hll_intersection",
    "dq_expectations_lineitem",
    "dq_benford_prices",
    "incr_symbol_totals_update",
    "quantile_sketch_close",
    "asof_bucketed_quotes",
    "multimodal_jpeg_roundtrip",
    "multimodal_png_pixels",
    "audio_pcm_features",
    "video_mjpeg_frames",
    "sim_pq_adc_topk",
    "sim_pq_adc_recall",
    "layout_skip_eval",
    "layout_compaction_plan",
    "dq_key_gaps",
    "stream_events_late_audit",
    "stream_events_enrich",
    "layout_hilbert_plan",
    # Exclusion policy for the ~60 registry names NOT listed here: the §2
    # relational basics (p*/j*/a* single-operator shapes), the TPC-H
    # variants already represented by a same-shape sibling, and 1-row
    # scalar/metrics assemblies — each was spot-timed under 0.5s at sf0.1
    # when registered. Anything that iterates, self-joins, or runs Python
    # belongs in the set; VERDICT r8 item 6 flagged three that LOOKED
    # heavy — measured sf0.1 medians: strings_fuzzy_match 0.99s,
    # skew_salted_aggregate 0.58s, sql_recursive_reachability 6.02s — the
    # recursive CTE was a genuine omission; all three are now benched.
    "strings_fuzzy_match",
    "skew_salted_aggregate",
    "sql_recursive_reachability",
    # round-9 additions
    "sim_rerank_blend",
    "text_bpe_encode",
    "text_bigram_logppl",
    "events_cusum_changepoint",
    "graph_hits_supplier_parts",
    "sim_mmr_diversify",
    "text_prf_expansion",
    "events_path_topk",
    "sample_reservoir_stratified",
    # round-8 additions (local numbers committed in BENCH_r08_local.json)
    "graph_edge_jaccard_parts",
    "graph_kcore_parts",
    "text_bm25_topdocs",
    "text_bpe_pair_counts",
    "events_attribution_last_touch",
    "emb_int8_quant_error",
    "graph_ppr_supplier",
    "dedup_simhash_eval",
    "basket_rules_lift",
    "events_error_spike_hours",
    "transit_timeline_sweep",
    "sample_poisson_bootstrap",
    # round-10 additions
    "dedup_substring_spans",
    "text_bpe_train",
    "dedup_image_phash",
    "dedup_audio_phash",
    "dedup_substring_cut",
    "sim_ivfpq_topk",
    "text_dsir_logratio",
    "sim_ivfpq_ndcg",
    "stream_events_cusum",
    "dq_k_anonymity",
    "graph_landmark_distances",
    "text_bpe_fertility",
    "asof_event_bars_nearest",
    "emb_matryoshka_recall",
    "sim_ivfpq_residual_topk",
    "sim_sq8_topk",
    "sim_sq8_recall",
    "graph_modularity_parts",
    "corpus_drift_ks",
    "dq_l_diversity",
    "text_ppl_buckets",
    "emb_dim_covariance",
    "events_ab_chi2",
    "emb_pca_power",
    "multimodal_gif_pixels",
    "sim_bin_hamming_topk",
    "sim_bin_hamming_recall",
    "dedup_cdc_chunks",
    # round-11 additions
    "corpus_drift_psi",
    "dq_t_closeness",
    "dedup_video_phash",
    "sim_crossmodal_topk",
    "sim_crossmodal_recall",
    "sim_nsw_topk",
    "sim_nsw_recall",
    "dq_t_closeness_cat",
    "text_zipf_fit",
    "sample_neyman_alloc",
    "sim_ivf_trained_topk",
    "sim_ivf_trained_recall",
    "text_heaps_growth",
    "sim_rank_agreement_rbo",
    "text_gopher_rules",
    "corpus_mix_doremi",
    "dedup_video_keep",
    # round-12 additions
    "text_langid_ngram",
    "text_langid_ngram_eval",
    "decontam_semantic",
    "sim_hnsw_topk",
    "sim_hnsw_recall",
    "stream_dedup_incremental",
    "sim_ivf_nprobe_sweep",
    "stream_docs_quality_gate",
    "sim_crossmodal_hard_negatives",
    "dedup_threshold_sweep",
    "emb_semantic_outliers",
    # round-13 additions
    "text_langid_skewed_eval",
    "stream_emb_outlier_gate",
    "sample_uncertainty_margin",
    "dedup_lsh_scurve",
]


def _latest_local_artifact() -> dict | None:
    """The highest-round committed BENCH_r*_local.json, parsed — the
    baseline the >1.5x single-query mover re-run policy compares against."""
    arts = _recent_local_artifacts(1)
    return arts[0] if arts else None


def _recent_local_artifacts(n: int) -> list[dict]:
    """The n highest-round committed BENCH_r*_local.json artifacts,
    newest first."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = {
        p: int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*_local.json"))
        if (m := re.search(r"_r(\d+)", os.path.basename(p)))  # skip names without a round
    }
    out = []
    for p in sorted(rounds, key=rounds.get, reverse=True)[:n]:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def _canary_baseline(sf_val: float | None) -> dict[str, float] | None:
    """Per-canary-query BEST (min) committed time over the last 3 local
    artifacts at this sf (VERDICT r14 item 9): gating the session canary
    against only the LATEST artifact let one degraded-host artifact
    (r14_local, canary 'slow') silently loosen the next session gate by
    ~18%. Best-of-last-3 keeps the gate anchored to a healthy session
    while still tracking genuine generational change."""
    arts = [a for a in _recent_local_artifacts(3) if a.get("sf") == sf_val]
    if not arts:
        return None
    base: dict[str, float] = {}
    for art in arts:
        for n, sec in art.get("queries", {}).items():
            if n in CANARY_QUERIES and sec > 0:
                base[n] = min(base.get(n, sec), sec)
    return base or None


# Whole-session hiccup canary (VERDICT r10 item 2): r10's whole-session-slow
# discard (commit 7d8d3ee) was a builder judgment call living in a commit
# message. Mechanized: before the timed sweep, re-time these stable
# micro-queries and compare their median ratio against the latest committed
# artifact. If the session itself is slow (ratio > CANARY_MAX), wait and
# retry up to CANARY_ATTEMPTS times; the outcome — every attempt's ratio and
# the final status — is recorded in the artifact's "canary" field, so a
# discard/proceed decision is a recorded gate, not a claim.
CANARY_QUERIES = [
    "q1_market_totals",
    "q5_daily_returns",
    "j2_star_join",
    "q6_top_volume",
    "dedup_exact",
]
CANARY_MAX = 1.3
CANARY_ATTEMPTS = 3
CANARY_WAIT_SEC = 20.0


def _run_canary(spark, queries, sf_dir: str, prev_q: dict | None) -> dict | None:
    """Returns the canary record for the artifact, or None when there is
    no committed baseline to compare against (first round at this sf).
    ``prev_q`` is the best-of-last-3 per-query baseline (_canary_baseline)."""
    if not prev_q:
        return None
    names = [n for n in CANARY_QUERIES if prev_q.get(n, 0) > 0 and n in queries]
    if len(names) < 3:
        return None
    record: dict = {"queries": names, "attempts": []}
    for attempt in range(CANARY_ATTEMPTS):
        ratios = []
        for n in names:
            sec = statistics.median(_time_query(spark, queries[n], sf_dir, 3))
            ratios.append(sec / prev_q[n])
        med = round(statistics.median(ratios), 3)
        record["attempts"].append(med)
        if med <= CANARY_MAX:
            record["status"] = "ok"
            return record
        print(
            f"bench: canary median ratio {med} > {CANARY_MAX} "
            f"(attempt {attempt + 1}/{CANARY_ATTEMPTS}) — session looks "
            f"slow, waiting {CANARY_WAIT_SEC}s",
            file=sys.stderr,
        )
        if attempt + 1 < CANARY_ATTEMPTS:
            time.sleep(CANARY_WAIT_SEC)
    # Still slow after all attempts: proceed (a number with a recorded
    # caveat beats no number), but the artifact says so and the hygiene
    # drift gate will demand an "explained" note if the sweep drifted.
    record["status"] = "slow"
    return record


def _time_query(spark, fn, sf_dir: str, trials: int) -> list[float]:
    """trials wall-clock samples of plan+execute, forced with the
    every-column hash aggregate (see module docstring)."""
    samples: list[float] = []
    for _ in range(trials):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.agg(F.max(F.xxhash64(*[F.col(c) for c in df.columns]))).collect()
        samples.append(time.perf_counter() - t0)
    return samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")))
    spark = get_spark("bench")

    queries = entry_mod.queries()
    names = [n for n in BENCH_QUERIES if n in queries]
    # dev-loop subset: SPARK_GRAFT_BENCH_ONLY="name1,name2" times just
    # those entries (same harness, same summary shape) — the committed
    # per-round artifact always runs the full list.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        sel = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in sel]

    # warm-up: JVM codegen + parquet footers + page cache for EVERY input
    # table, so the first timed query measures its plan, not cold I/O
    for t in (
        "lineitem", "orders", "customer", "part", "supplier",
        "nation", "region", "events", "documents", "embeddings",
    ):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    # Session canary BEFORE the timed sweep (see _run_canary) — only on a
    # full run at the committed artifact's sf, like the mover policy below.
    sf_token = sf_dir.rstrip("/").split("sf")[-1]
    sf_val = float(sf_token) if sf_token.replace(".", "").isdigit() else None
    canary_base = _canary_baseline(sf_val) if not only else None
    canary = _run_canary(spark, queries, sf_dir, canary_base)

    # Per-query fault isolation (VERDICT r3 item 3): one broken query must
    # never zero out the round's perf signal — record its error and go on.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    all_samples: dict[str, list[float]] = {}
    for name in names:
        try:
            samples = _time_query(spark, queries[name], sf_dir, trials)
            cold[name] = round(samples[0], 4)
            all_samples[name] = samples
            timings[name] = round(statistics.median(samples), 4)
        except Exception as e:  # noqa: BLE001 — isolation is the point
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    # Hiccup policy (VERDICT r9 item 1): on a FULL run, a query whose
    # median moved >1.5x vs the latest committed artifact gets one more
    # trial set; the recorded median spans all samples, so a one-off
    # session hiccup (observed 2-3x on ~1s queries under load) is voted
    # down instead of shipped. Survivors are genuine movers — explain
    # them via SPARK_GRAFT_BENCH_QUERY_NOTES.
    rebenched: list[str] = []
    prev = _latest_local_artifact() if not only else None
    if prev and prev.get("sf") == (float(sf_dir.rstrip("/").split("sf")[-1])
                                   if sf_dir.rstrip("/").split("sf")[-1]
                                   .replace(".", "").isdigit() else None):
        prev_q = prev.get("queries", {})
        for name in [
            n for n, sec in timings.items()
            if prev_q.get(n, 0) > 0 and sec / prev_q[n] > 1.5
        ]:
            try:
                extra = _time_query(spark, queries[name], sf_dir, trials)
            except Exception:  # noqa: BLE001 — keep the original result
                continue
            all_samples[name].extend(extra)
            timings[name] = round(statistics.median(all_samples[name]), 4)
            rebenched.append(name)
            print(
                f"bench: rebenched mover {name}: prev {prev_q[name]}s, "
                f"now {timings[name]}s over {len(all_samples[name])} samples",
                file=sys.stderr,
            )
    # End-of-sweep canary re-probe (round-11 lesson: a session can pass
    # the START canary and degrade mid-run — one such run showed 1.255 at
    # the gate, then a 1.216 common-set median with 66 auto-rebenched
    # movers). One more timed pass of the same canary set AFTER the sweep
    # records whether the session stayed healthy; purely observational —
    # the drift/mover gates remain the enforcement, this is the evidence
    # that attributes their findings to session health vs real movement.
    if canary is not None and canary_base is not None:
        names_c = [
            n for n in CANARY_QUERIES if canary_base.get(n, 0) > 0 and n in queries
        ]
        try:
            end_ratios = [
                statistics.median(_time_query(spark, queries[n], sf_dir, 3))
                / canary_base[n]
                for n in names_c
            ]
            canary["end_ratio"] = round(statistics.median(end_ratios), 3)
        except Exception:  # noqa: BLE001 — observational only
            pass

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "sum_sec_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "trials": trials,
    }
    out["rebenched"] = sorted(rebenched)
    if canary is not None:
        out["canary"] = canary
    note = os.environ.get("SPARK_GRAFT_BENCH_NOTE")
    if note:
        out["explained"] = note
    qnotes = os.environ.get("SPARK_GRAFT_BENCH_QUERY_NOTES")
    if qnotes:
        out["explained_queries"] = json.loads(qnotes)
    if errors:
        out["errors"] = errors
        out["n_errors"] = len(errors)
    print(json.dumps(out))
    # Per-query visibility fix (VERDICT r14 item 3): the full line above
    # grew to ~6 KB and overflows the driver's bounded tail capture, so
    # rounds 13/14 lost their per-query round-over-round comparison
    # (PERF per_query={}, geomean null). Two redundant channels restore
    # it without touching the timing methodology or the summary contract:
    # (a) the complete artifact is written to a file (env-overridable),
    # (b) the "queries" map is re-emitted as small self-describing JSON
    # lines (~20 entries, <1 KB each) immediately before the summary, so
    # a bounded tail retains as many trailing chunks as it can hold.
    out_file = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_out.json"),
    )
    try:
        with open(out_file, "w") as fh:
            json.dump(out, fh)
    except OSError as e:  # noqa: PERF203 — best-effort side channel
        print(f"bench: could not write {out_file}: {e}", file=sys.stderr)
    items = sorted(timings.items())
    chunk_sz = 20
    n_chunks = (len(items) + chunk_sz - 1) // chunk_sz
    for ci in range(n_chunks):
        print(json.dumps({
            "metric": "per_query_chunk",
            "i": ci,
            "n": n_chunks,
            "queries": dict(items[ci * chunk_sz:(ci + 1) * chunk_sz]),
        }))
    # Compact summary LAST: the driver keeps only the tail of stdout, and
    # the per-query line above is ~6 KB — this line is what gets parsed.
    summary = {
        "metric": "sum_sec_headline_queries",
        "value": total,
        "unit": "sec",
        "sf": out["sf"],
        "n": len(timings),
        "trials": trials,
        "n_errors": len(errors),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
