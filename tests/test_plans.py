"""Physical-plan regression tests: the *shape* of the plan is part of the
contract (pushdown, broadcast, pruning, no accidental cartesian blowups),
because at 100 TB the wrong shape is a correctness problem in practice.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from securities_pricing_data_pipeline_spark.queries.bars import bars_df  # noqa: E402
from securities_pricing_data_pipeline_spark.queries.serving import (  # noqa: E402
    q2_rolling_liquidity,
    q4_segment_contribution,
    q8_ohlc_series,
    flagship,
)
from securities_pricing_data_pipeline_spark.queries.llmq import (  # noqa: E402
    dedup_minhash_lsh,
    dedup_embedding_cosine,
)
from securities_pricing_data_pipeline_spark.queries.relational import j2_star_join  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q8_partkey_filter_reaches_scan(spark):
    plan = _plan(q8_ohlc_series(spark, SF))
    assert "PushedFilters: [IsNotNull(l_partkey), EqualTo(l_partkey,7)]" in plan


def test_bars_scan_prunes_columns(spark):
    plan = _plan(bars_df(spark, SF))
    # exactly the 6 columns the bar derivation needs — nothing else read
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    for col in ["l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]:
        assert col in read
    for col in ["l_suppkey", "l_discount", "l_tax", "l_comment", "l_returnflag"]:
        assert col not in read


def test_dim_joins_broadcast(spark):
    for q in (q4_segment_contribution, j2_star_join):
        plan = _plan(q(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


def test_near_dup_ops_never_cartesian(spark):
    for q in (dedup_minhash_lsh, dedup_embedding_cosine):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_flagship_global_rank_after_reduction(spark):
    import re

    from securities_pricing_data_pipeline_spark.queries import bars

    # pin the canonical uncached plan — a warm silver cache (set by any
    # earlier serving-query test in the session) swaps the bars subtree
    # for an InMemoryTableScan; the CacheManager matches by logical plan,
    # so the persisted relation must be dropped too
    bars.bars_silver.cache_clear()
    spark.catalog.clearCache()
    plan = _plan(flagship(spark, SF))
    # the single-partition exchange (global rank) must consume the
    # per-symbol aggregate, never raw bars: in the formatted plan,
    # node ids are assigned bottom-up, so every HashAggregate feeding the
    # rank must have a smaller id than the SinglePartition exchange
    single_m = re.search(r"\((\d+)\) Exchange\nInput.*\nArguments: SinglePartition", plan)
    agg_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    assert single_m is not None and agg_ids
    assert min(agg_ids) < int(single_m.group(1))
    # r15 layout: the silver is cached hash-partitioned by symbol, so the
    # CONSUMER side (tree section above the InMemoryRelation; the cached
    # build's initial+final AQE echo below it doesn't execute per query)
    # must contain exactly ONE exchange — the SinglePartition global rank;
    # the per-symbol aggregate reuses the silver's partitioning.
    cut = plan.find("InMemoryRelation")
    assert cut != -1, "bars silver no longer cached"
    consumer = plan[:cut]
    assert len(re.findall(r"Exchange \(\d+\)", consumer)) == 1


def test_range_join_is_equi_join_not_nested_loop(spark):
    # the bucketed rewrite must plan a hash/sort-merge equi-join on the
    # bucket key; a naive BETWEEN theta-join would fall back to
    # BroadcastNestedLoopJoin (O(n·m) — unusable at scale)
    from securities_pricing_data_pipeline_spark.queries.relational import range_join_in_transit

    plan = _plan(range_join_in_transit(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_rollup_single_shuffle_over_silver(spark):
    # GROUPING SETS must Expand then aggregate with ONE exchange on top of
    # the (possibly cached) silver — not one job per grain
    from securities_pricing_data_pipeline_spark.queries.bars import q_bars_rollup

    plan = _plan(q_bars_rollup(spark, SF))
    # formatted-mode details list nodes bottom-up by id, so everything
    # printed after "(n) Expand" sits ABOVE the Expand in the tree — the
    # rollup itself must contribute exactly one exchange there (the silver
    # subtree below Expand may add its own)
    assert ") Expand" in plan
    above_expand = plan[plan.index(") Expand") :]
    assert above_expand.count(") Exchange") == 1


def test_tpch_filters_push_to_scans(spark):
    from securities_pricing_data_pipeline_spark.queries.tpch import tpch_q6_forecast_revenue

    plan = _plan(tpch_q6_forecast_revenue(spark, SF))
    # the discount/quantity predicates must reach the parquet reader
    pushed = next(line for line in plan.splitlines() if "PushedFilters" in line)
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_tpch_q5_no_cartesian_and_tiny_dims_broadcast(spark):
    from securities_pricing_data_pipeline_spark.queries.tpch import tpch_q5_regional_revenue

    plan = _plan(tpch_q5_regional_revenue(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # region→nation enrichment is explicitly broadcast (constant-size dims)
    assert "BroadcastHashJoin" in plan


def test_topk_per_group_ranks_after_preaggregate(spark):
    import re

    from securities_pricing_data_pipeline_spark.queries.analytic import topk_parts_per_brand

    plan = _plan(topk_parts_per_brand(spark, SF))
    # the window must sit above the per-partkey HashAggregate (node ids are
    # assigned bottom-up): ranking raw lineitem would be the scale bug
    win_m = re.search(r"\((\d+)\) Window", plan)
    agg_ids = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    assert win_m is not None and agg_ids
    assert min(agg_ids) < int(win_m.group(1))


def test_funnel_windows_share_one_shuffle(spark):
    from securities_pricing_data_pipeline_spark.queries.eventsq import events_funnel

    plan = _plan(events_funnel(spark, SF))
    # three stacked per-user windows must reuse a single user_id exchange
    # (plus the final single-partition aggregate — nothing else)
    assert plan.count(") Exchange") <= 2


def test_sql_exists_rewrites_to_semi_join(spark):
    from securities_pricing_data_pipeline_spark.queries.sqlapi import sql_exists_late_ship

    plan = _plan(sql_exists_late_ship(spark, SF))
    # RewritePredicateSubquery must turn the correlated EXISTS into a
    # hash-based LeftSemi — never per-row subquery execution or nested loop
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_survives_bench_force(spark):
    # guards bench.py honesty: the hash-fold force must keep the Window
    df = q2_rolling_liquidity(spark, SF)
    forced = df.agg(F.max(F.xxhash64(*[F.col(c) for c in df.columns])))
    assert "Window" in _plan(forced)
    # while count() alone would prune it (documented Catalyst behavior)
    assert "Window" not in _plan(df.groupBy().count())


def test_q4b_enrichment_dim_broadcasts(spark):
    from securities_pricing_data_pipeline_spark.queries.serving import (
        q4b_sector_contribution,
    )

    plan = _plan(q4b_sector_contribution(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q12_drawdown_reuses_symbol_partitioning(spark):
    # the running-peak window and the per-symbol max both key on symbol:
    # the aggregate must reuse the window's exchange, not add a second one
    import re

    from securities_pricing_data_pipeline_spark.queries import bars
    from securities_pricing_data_pipeline_spark.queries.serving import q12_max_drawdown

    bars.bars_silver.cache_clear()
    spark.catalog.clearCache()
    plan = _plan(q12_max_drawdown(spark, SF))
    # r15 layout: the running-peak window AND the per-symbol aggregate
    # both reuse the symbol-partitioned cached silver — the consumer side
    # (above the InMemoryRelation) plans ZERO exchanges.
    cut = plan.find("InMemoryRelation")
    assert cut != -1, "bars silver no longer cached"
    consumer = plan[:cut]
    assert len(re.findall(r"Exchange \(\d+\)", consumer)) == 0, consumer


def test_q14_pairs_bounded_and_no_cartesian(spark):
    from securities_pricing_data_pipeline_spark.queries.serving import q14_top_corr_pairs

    plan = _plan(q14_top_corr_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the date-keyed self-join must broadcast the top-k-filtered side
    assert "BroadcastHashJoin" in plan


def test_cms_build_is_one_aggregate(spark):
    from securities_pricing_data_pipeline_spark.llmdata.sketch import cms_table
    from securities_pricing_data_pipeline_spark.queries.helpers import load

    li = load(spark, SF, "lineitem")
    plan = _plan(cms_table(li, F.col("l_partkey")))
    # explode + partial agg + ONE exchange on (i, bucket) + final agg
    assert plan.count(") Exchange") == 1
    assert ") Generate" in plan  # the explode


def test_tpch_q2_argmin_window_reuses_aggregate_shuffle(spark):
    """The per-part argmin (row_number over partkey) must reuse the
    (partkey, suppkey) aggregate's exchange — one extra shuffle for the
    window would double the network cost of the whole query."""
    from securities_pricing_data_pipeline_spark.queries.tpch import (
        tpch_q2_min_cost_supplier,
    )

    import re

    plan = _plan(tpch_q2_min_cost_supplier(spark, SF))
    assert "CartesianProduct" not in plan
    # ≤2 shuffle exchanges: the lineitem⋈part join distribution and the
    # shared aggregate/window partitioning (matches tools/plan_lint.py)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2


def test_q15_rsi_single_symbol_shuffle(spark):
    """All three stacked windows (lag + two rolling sums) partition on
    symbol — Catalyst must plan exactly one hashpartitioning exchange."""
    import re

    from securities_pricing_data_pipeline_spark.queries import bars
    from securities_pricing_data_pipeline_spark.queries.serving import q15_rsi

    bars.bars_silver.cache_clear()
    spark.catalog.clearCache()
    plan = _plan(q15_rsi(spark, SF))
    # r15 layout: lag + both rolling sums all ride the symbol-partitioned
    # cached silver — ZERO consumer-side exchanges (the silver build's
    # aggregate + repartition live below the InMemoryRelation, once per
    # session); the symbol hashpartitioning exists in the build lineage.
    cut = plan.find("InMemoryRelation")
    assert cut != -1, "bars silver no longer cached"
    consumer = plan[:cut]
    assert len(re.findall(r"Exchange \(\d+\)", consumer)) == 0, consumer
    assert len(re.findall(r"hashpartitioning\(symbol", plan)) >= 1


def test_bloom_filter_broadcasts_onto_probes(spark):
    """The built filter (≤ m_bits/32 rows) must broadcast — a shuffle
    join here would defeat the point of the sketch."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        sketch_bloom_custkeys,
    )

    plan = _plan(sketch_bloom_custkeys(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_corpus_count_broadcasts(spark):
    """N (the 1-row corpus count) joins via broadcast nested loop — the
    only acceptable BNL shape (1-row side); the tf/df joins must stay
    hash-based."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        text_tfidf_topterms,
    )

    import re

    plan = _plan(text_tfidf_topterms(spark, SF))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_tpch_q21_self_joins_stay_hash_based(spark):
    """The EXISTS / NOT EXISTS pair must decorrelate to hash semi/anti
    joins on the orderkey equi-condition (suppkey inequality as residual)
    — a nested-loop fallback would be quadratic in order size at scale."""
    from securities_pricing_data_pipeline_spark.queries.tpch import tpch_q21_waiting_suppliers

    plan = _plan(tpch_q21_waiting_suppliers(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_tpch_q11_threshold_is_single_row_broadcast(spark):
    """The HAVING total must come from re-aggregating the per-part frame
    (1-row broadcast), never a second scan+join of lineitem."""
    from securities_pricing_data_pipeline_spark.queries.tpch import tpch_q11_important_parts

    plan = _plan(tpch_q11_important_parts(spark, SF))
    # lineitem is scanned exactly once
    assert sum("lineitem.parquet" in ln for ln in plan.splitlines() if "Location" in ln) == 1
    assert "CartesianProduct" not in plan


def test_tpch_q16_exclusion_broadcasts_and_q20_name_filter_pushes(spark):
    from securities_pricing_data_pipeline_spark.queries.tpch import (
        tpch_q16_supplier_count_by_part,
        tpch_q20_promotion_suppliers,
    )

    plan16 = _plan(tpch_q16_supplier_count_by_part(spark, SF))
    assert "LeftAnti" in plan16 and "BroadcastHashJoin" in plan16
    plan20 = _plan(tpch_q20_promotion_suppliers(spark, SF))
    pushed = [ln for ln in plan20.splitlines() if "PushedFilters" in ln and "p_name" in ln]
    assert any("StringStartsWith" in ln for ln in pushed)


def test_scd2_windows_share_symbol_shuffle(spark):
    """lag + lead both key on (symbol, trade_date): Catalyst must plan ONE
    symbol exchange feeding both windows, not two."""
    import re

    from securities_pricing_data_pipeline_spark.queries import bars
    from securities_pricing_data_pipeline_spark.queries.serving import scd2_price_bands

    bars.bars_silver.cache_clear()
    spark.catalog.clearCache()
    plan = _plan(scd2_price_bands(spark, SF))
    # r15 layout: BOTH windows ride the symbol-partitioned cached silver —
    # zero consumer-side symbol exchanges (the one consumer exchange left
    # is the final output orderBy's range partitioning).
    cut = plan.find("InMemoryRelation")
    assert cut != -1, "bars silver no longer cached"
    consumer = plan[:cut]
    assert len(re.findall(r"hashpartitioning\(symbol#\d+, \d+\)", consumer)) == 0
    assert len(re.findall(r"Exchange \(\d+\)", consumer)) <= 1


def test_pq_codes_two_narrow_exchanges_no_pairs(spark):
    from securities_pricing_data_pipeline_spark.queries.llmq import emb_pq_codes

    plan = _plan(emb_pq_codes(spark, SF))
    assert "CartesianProduct" not in plan
    # codebook joins map-side
    assert "BroadcastHashJoin" in plan


def test_rrf_fusion_no_unbounded_pair_blowup(spark):
    from securities_pricing_data_pipeline_spark.queries.llmq import sim_rrf_fusion

    plan = _plan(sim_rrf_fusion(spark, SF))
    assert "CartesianProduct" not in plan


def test_segment_dedup_no_cartesian_and_digest_keyed(spark):
    from securities_pricing_data_pipeline_spark.queries.llmq import text_segment_dedup

    plan = _plan(text_segment_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the document-frequency shuffle carries md5 digests, never segment text
    assert "md5" in plan


def test_shard_plan_no_global_sort(spark):
    from securities_pricing_data_pipeline_spark.queries.llmq import export_shard_plan

    plan = _plan(export_shard_plan(spark, SF))
    # the window partitions by shard: per-shard local sort after one hash
    # exchange — a global (rangepartitioning) sort must never appear
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_asof_pairs_one_shuffle_no_range_join(spark):
    from securities_pricing_data_pipeline_spark.queries.llmq import asof_pairs_spread

    plan = _plan(asof_pairs_spread(spark, SF))
    # the union-and-window as-of must never degrade to a range-condition
    # join (per-key cross product)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # alignment itself is windowed: exactly one Window over the union
    assert plan.count("Window") >= 1


def test_distribution_drift_scans_source_once(spark):
    from securities_pricing_data_pipeline_spark.queries.llmq import corpus_drift_kl

    df = corpus_drift_kl(spark, SF)
    plan = _plan(df)
    # everything downstream of the (checkpointed) cell aggregate is
    # cell-sized: the documents parquet must not appear in the final plan
    # at all — its single scan happened inside the checkpoint job
    assert "documents.parquet" not in plan
    assert "CartesianProduct" not in plan


def test_twap_reuses_symbol_partitioning(spark):
    from securities_pricing_data_pipeline_spark.queries.serving import q17_twap

    plan = _plan(q17_twap(spark, SF))
    # lead() sorts per symbol, the aggregate groups by symbol: Catalyst
    # must reuse the window's hash partitioning, not re-exchange between
    # the window and the aggregate (the silver itself arrives through the
    # shared in-memory materialization)
    post_silver = plan.split("InMemoryTableScan")[0]
    assert post_silver.count("Exchange") <= 2


def test_bench_list_matches_registry():
    """Every bench name must resolve (a typo'd entry silently shrinks the
    perf signal — names are filtered, not validated, in bench.main)."""
    import __spark_entry__ as entry_mod
    from bench import BENCH_QUERIES

    registered = set(entry_mod.queries())
    missing = [n for n in BENCH_QUERIES if n not in registered]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(BENCH_QUERIES)) == len(BENCH_QUERIES), "duplicate bench names"


def test_dimsum_joins_are_keyed_never_cartesian(spark):
    from securities_pricing_data_pipeline_spark.queries.serving import sim_dimsum_cosine

    plan = _plan(sim_dimsum_cosine(spark, SF))
    # the pair generation is a date-keyed equi-self-join with a < residual,
    # and norms attach via broadcast — no cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_mmr_selection_joins_broadcast_never_smj(spark):
    """The MMR unrolled selection steps join pinned (LogicalRDD) frames
    whose stats are unknown — without explicit broadcast hints every
    <=50-row step join planned as a sort-merge join (12 SMJs / 33
    exchanges measured). Lock in the hinted shape."""
    from securities_pricing_data_pipeline_spark.queries.llmq import sim_mmr_diversify

    plan = _plan(sim_mmr_diversify(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_no_global_sort(spark):
    """text_bpe_encode is a map-side projection; the oracle gate compares
    rows order-insensitively, so the plan must not pay a rangepartition
    pass for a cosmetic final sort."""
    from securities_pricing_data_pipeline_spark.queries.llmq import text_bpe_encode

    plan = _plan(text_bpe_encode(spark, SF))
    assert "rangepartitioning" not in plan.lower()


def test_ivfpq_small_side_joins_broadcast(spark):
    """IVF-PQ's probe lists and ADC tables are query-set-sized and must
    BROADCAST into the code scan; the one legitimate shuffle join is the
    corpus-sized codes⋈coarse list build. Lock in: no cartesian blowup,
    and at most ONE sort-merge join in the plan (the list build).

    r15: the sim_ivfpq_topk QUERY now reads the pinned session silver
    (a LogicalRDD — no joins in its plan), so this locks the KERNEL's
    plan, which is what the silver build executes."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import ivfpq_topk
    from securities_pricing_data_pipeline_spark.queries.helpers import load

    import re

    from pyspark.sql import functions as F

    emb = load(spark, SF, "embeddings")
    plan = _plan(ivfpq_topk(
        emb, emb.filter(F.col("vec_id") % 50 == 0), k=5,
        dim=20, n_sub=4, n_codes=16, n_centroids=16, nprobe=4,
    ))
    assert "CartesianProduct" not in plan
    # formatted mode prints each operator twice (tree + numbered detail):
    # count the detail headers, expect exactly the one list-build SMJ
    smjs = re.findall(r"\(\d+\) SortMergeJoin", plan)
    assert len(smjs) <= 1, smjs
    assert "BroadcastHashJoin" in plan


def test_matryoshka_truth_joins_broadcast_never_smj(spark):
    """The pinned 50-row truth frame has unknown stats — unhinted, each
    per-dim recall join planned as an SMJ (3 measured). Lock in the
    broadcast-hinted shape."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        emb_matryoshka_recall,
    )

    plan = _plan(emb_matryoshka_recall(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sq8_query_side_broadcast_corpus_scanned_once(spark):
    """SQ8 retrieval: the 10-row query side must BROADCAST into the one
    corpus scan (the brute_force_topk contract) — no sort-merge join, no
    cartesian product, quantize/dequantize fully codegen'd map-side."""
    from securities_pricing_data_pipeline_spark.queries.llmq import sim_sq8_topk

    plan = _plan(sim_sq8_topk(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_modularity_no_cartesian_and_one_row_m_broadcast(spark):
    """Modularity's 1-row edge-count scalar joins the community frame via
    a broadcast nested loop by design; everything else must stay keyed —
    no cartesian product, and the label frame is pinned (LogicalRDD) so
    the LPA lineage can't replay per consumer."""
    from securities_pricing_data_pipeline_spark.queries.analytic import (
        graph_modularity_parts,
    )

    plan = _plan(graph_modularity_parts(spark, SF))
    assert "CartesianProduct" not in plan
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan


def test_ks_drift_windows_post_reduction_only(spark):
    """ks_drift's global ECDF window must ride the value-cardinality
    aggregate, never the raw scan: exactly one hash aggregate upstream
    of the single-partition exchange, and no Python in the plan."""
    import re

    from securities_pricing_data_pipeline_spark.queries.llmq import corpus_drift_ks

    plan = _plan(corpus_drift_ks(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted-mode operator ids number bottom-up = execution order: the
    # value-cardinality aggregate must execute before any window
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)


def test_dim_covariance_marginals_broadcast(spark):
    """The d-row marginal tables must broadcast onto the pair moments —
    a shuffle join on a 64-row side would put two corpus-wide exchanges
    where zero belong."""
    from securities_pricing_data_pipeline_spark.queries.llmq import emb_dim_covariance

    plan = _plan(emb_dim_covariance(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_phash_sigs_pinned_decode_runs_once(spark):
    """The perceptual-hash dedup queries must pin their (id, simhash)
    frame before pairing: simhash_near_dups scans its sigs input three
    times, and an unpinned frame re-runs the pure-Python codec chain per
    scan (the r10 16.7s-vs-2.7s driver bench gap). Lock-in: ZERO
    MapInPandas nodes in the pairing plan — the decode lives entirely in
    the one-time checkpoint."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        dedup_audio_phash,
        dedup_image_phash,
        dedup_video_phash,
    )

    for q in (dedup_audio_phash, dedup_image_phash, dedup_video_phash):
        plan = _plan(q(spark, SF))
        assert "MapInPandas" not in plan, q.__name__


def test_nsw_search_joins_broadcast_never_smj(spark):
    """nsw_topk's beam search must stay broadcast: the edge index is
    pinned (ExistingRDD), the frontier and query sides broadcast into
    every expansion round, and NO SortMergeJoin appears in the search
    plan — each round's cost is |frontier|·m rows, independent of corpus
    size (the graph-ANN scale contract)."""
    from securities_pricing_data_pipeline_spark.queries.llmq import sim_nsw_topk

    plan = _plan(sim_nsw_topk(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5  # one expansion join per round


def test_hnsw_search_joins_broadcast_never_smj(spark):
    """hnsw_topk's hierarchical search must stay broadcast end to end —
    upper-layer descent AND layer-0 rounds: both adjacency silvers are
    pinned, frontier/expansion/query sides broadcast into every join,
    and no SortMergeJoin appears — the same scale contract
    test_nsw_search_joins_broadcast_never_smj locks for layer 0."""
    from securities_pricing_data_pipeline_spark.queries.llmq import sim_hnsw_topk

    plan = _plan(sim_hnsw_topk(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # final round's joins stay visible
