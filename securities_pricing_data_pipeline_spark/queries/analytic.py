"""Analytic-SQL surface: running totals, pivot, CUBE, exact percentiles.

The reference's serving layer is dashboard analytics (SURVEY §2.6) — rolling
windows, ranks, percent-of-total. This module rounds out the analytic
operator classes Spark offers beyond those dashboards, each expressed as a
pure Catalyst plan (no UDFs) with a DuckDB oracle:

* cumulative window aggregation (running total over a total order);
* pivot (Spark ``groupBy().pivot()`` with an explicit value list — the
  list matters at scale: without it Spark runs an extra distinct job to
  discover pivot values);
* CUBE with ``GROUPING()`` disambiguation (super-aggregate rows keep a
  deterministic 'ALL' sentinel instead of NULL);
* exact interpolated percentiles (``percentile`` — exact, unlike
  ``percentile_approx`` — over integral doubles with dyadic fractions, so
  Spark's ``a + (b-a)*f`` and DuckDB's ``quantile_cont`` agree bitwise).

Determinism notes: cumulative sums run over a total order (unique date per
partition after the pre-aggregate), and all float sums follow the
decimal-grid rule in ``queries.helpers``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.queries.bars import BARS_SQL, bars_silver
from securities_pricing_data_pipeline_spark.queries.helpers import (
    dec,
    dsum,
    load,
    right_size_silver,
    silver,
    sql_dsum,
)

@silver
def _copurchase_edges(
    spark: SparkSession, sf_dir: str, key_col: str, even_only: bool = False
) -> DataFrame:
    """Canonical (u < v, distinct) co-occurrence edge list over lineitem
    ``key_col``, persisted once per (session, sf, variant). Building it —
    distinct (order, key) → self-join on order → pair distinct — costs
    ~4.5s at sf0.1, and SIX graph queries each paid it while their
    actual graph math runs ~1s."""
    from pyspark import StorageLevel

    li = load(spark, sf_dir, "lineitem")
    if even_only:
        li = li.filter(F.col(key_col) % 2 == 0)
    li = li.select("l_orderkey", key_col).distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col(key_col).alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col(key_col).alias("v"))
    df = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # r14: materialize NOW and right-size the cached read width — an
    # un-materialized silver lets one action's concurrent AQE stages
    # each rebuild it from parquet (measured: 8 identical 64-task
    # degree stages inside one graph_edge_jaccard_parts run), and 32
    # partitions of a few-MB edge list make every degree pass
    # task-overhead-bound (guide §2.2).
    return right_size_silver(df)


@silver
def _cosupply_sym_edges(
    spark: SparkSession, sf_dir: str, key_col: str, even_only: bool = False
) -> DataFrame:
    """SYMMETRIZED (both directions) variant of the co-occurrence silver,
    persisted once per (session, sf, variant) with columns (u, v).

    Without this, every iterative-graph call symmetrized the canonical
    u<v silver with a fresh unionAll — an UNPINNED 2x-partition union
    that each query then re-localCheckpointed per run, and whose doubled
    partition count leaked into every iteration stage downstream
    (VERDICT r8 item 1: graph_pagerank_suppliers 3.15s → 5.11s was this,
    not the kernel). The one-time repartition back to the session
    shuffle width keeps per-iteration task counts flat."""
    from pyspark import StorageLevel

    und = _copurchase_edges(spark, sf_dir, key_col, even_only)
    # size-aware width (what AQE does for shuffle outputs, applied to
    # the explicit repartition): iteration stages over a small graph
    # are task-overhead-bound — 907k supplier edges ran 2.7s/query in
    # 8 partitions vs 3.5s in 32 — while a 100 TB edge list clamps to
    # the full session shuffle width. ~250k edge rows per partition.
    n_edges = 2 * und.count()  # also pins the canonical silver
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(n_part, -(-n_edges // 250_000)))
    df = (
        und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(width)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df.count()  # pin eagerly: consumers skip their own materialization
    return df


def w_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue total per return flag: pre-aggregate to one row per
    (flag, ship_date) — collapsing ~all rows map-side — then a cumulative
    window over the (unique) date order. The window shuffles on the 3-value
    flag key; at 100 TB the pre-aggregate means the window input is only
    |flags|×|dates| rows, so the low-cardinality partition key is safe."""
    li = load(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy("l_returnflag", F.col("l_shipdate").cast("date").alias("ship_date"))
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), 4)).alias("_rev"),
            F.count("*").alias("n_lines"),
        )
    )
    w = Window.partitionBy("l_returnflag").orderBy("ship_date")
    return daily.select(
        F.col("l_returnflag").alias("return_flag"),
        "ship_date",
        F.col("_rev").cast("double").alias("day_revenue"),
        F.sum("_rev").over(w).cast("double").alias("cum_revenue"),
        "n_lines",
    )


def pivot_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per market segment pivoted by order status. The explicit
    ``pivot`` value list skips the value-discovery job and pins the output
    schema — mandatory for a stable contract (and one less job at scale)."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "segment",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_fulfilled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with totals: all four grouping sets in
    one pass (Catalyst Expand → single hash aggregate, one shuffle).
    Super-aggregate NULLs are disambiguated to 'ALL' via GROUPING() so real
    NULLs could never collide with the rollup rows."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            # grouping() is only valid inside the cube aggregate itself
            F.grouping("o_orderpriority").alias("_gp"),
            F.grouping("o_orderstatus").alias("_gs"),
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.when(F.col("_gp") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            F.when(F.col("_gs") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            "n_orders",
            "total_price",
        )
    )


def rollup_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy: per-nation revenue,
    per-region subtotals, and a grand total in ONE pass — the
    hierarchical sibling of ``cube_priority_status`` (CUBE materializes
    all 2ᵏ grouping sets; ROLLUP only the k+1 prefixes, which is the
    right shape for a strict hierarchy and an Expand factor of 3 not 4).
    GROUPING() disambiguates subtotal rows to 'ALL' exactly as the CUBE
    query does. Revenue is the decimal-snapped lineitem sum; the two
    dims broadcast onto the fact before the single Expand aggregate."""
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").alias("_gr"),
            F.grouping("n_name").alias("_gn"),
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
        .select(
            F.when(F.col("_gr") == 1, F.lit("ALL")).otherwise(F.col("r_name")).alias(
                "region"
            ),
            F.when(F.col("_gn") == 1, F.lit("ALL")).otherwise(F.col("n_name")).alias(
                "nation"
            ),
            "n_lines",
            "revenue",
        )
    )


def percentile_quantity_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of quantity per return flag. ``percentile``
    (not ``percentile_approx``) sorts within each group — fine here because
    groups are read-side partial-aggregated; for a 100 TB arbitrary-
    cardinality case you'd switch to ``percentile_approx`` and a
    rows-only contract. Quantity is integral and fractions are dyadic, so
    interpolation is exact in both engines."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.percentile(F.col("l_quantity"), F.lit(0.25)).alias("qty_p25"),
            F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("qty_p50"),
            F.percentile(F.col("l_quantity"), F.lit(0.75)).alias("qty_p75"),
            F.count("*").alias("n_lines"),
        )
    )


def w_month_open_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per symbol-month summary via the full-frame window functions the
    registry didn't exercise yet: FIRST_VALUE (month open), LAST_VALUE
    (month close) and NTH_VALUE (3rd trading day's close) over ROWS
    BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING, reduced to one
    row per group by the rn=1 filter (the QUALIFY idiom). The order is
    total (unique dates per symbol), so every picked value is
    deterministic; prices ride the exact ×10000 int64 path.

    Plan: ONE window shuffle on (symbol, month) computes all four
    positional picks; no self-joins. At 100 TB this is the shape for
    "per-partition endpoints" — strictly cheaper than min_by/max_by
    double-aggregation when several positional values are needed."""
    b = bars_silver(spark, sf_dir)
    mon = F.trunc("trade_date", "month").alias("month_start")
    cu = (F.col("close") * 10000).cast("long")
    ou = (F.col("open") * 10000).cast("long")
    wf = (
        Window.partitionBy("symbol", "month_start")
        .orderBy("trade_date")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wo = Window.partitionBy("symbol", "month_start").orderBy("trade_date")
    d = b.select("symbol", mon, "trade_date", ou.alias("ou"), cu.alias("cu")).select(
        "symbol",
        "month_start",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wf).alias("n_days"),
        F.first("ou").over(wf).alias("first_ou"),
        F.last("cu").over(wf).alias("last_cu"),
        F.nth_value("cu", 3).over(wf).alias("d3_cu"),
    )
    return d.filter(F.col("rn") == 1).select(
        "symbol",
        "month_start",
        "n_days",
        (F.col("first_ou").cast("double") / 10000.0).alias("month_open"),
        (F.col("last_cu").cast("double") / 10000.0).alias("month_close"),
        (F.col("d3_cu").cast("double") / 10000.0).alias("day3_close"),
    )


def mode_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal order priority per market segment — MODE with a
    DETERMINISTIC tie-break (count desc, then priority name), which the
    built-in ``mode()`` aggregate cannot promise, expressed as count +
    rank. Two hash aggregates and a |priorities|-row window; the first
    aggregate collapses the fact map-side, so the window input is
    |segments|×|priorities| rows."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    counts = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("n"), "priority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("segment", "priority", "n")
    )


def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue within each brand. Order of operations is the
    scale lever: aggregate lineitem per partkey FIRST (map-side combine
    collapses the fact), join the much smaller per-part totals to the part
    dim, then rank inside each brand. Ranking after pre-aggregation means
    the window input is |parts|, not |lineitem|."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), 4)).alias("_rev")
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("_rev"), "p_partkey")
    return (
        per_part.join(part, per_part.l_partkey == part.p_partkey, "inner")
        .withColumn("brand_rank", F.row_number().over(w))
        .filter(F.col("brand_rank") <= 3)
        .select(
            F.col("p_brand").alias("brand"),
            "brand_rank",
            F.col("p_partkey").alias("part_key"),
            F.col("p_name").alias("part_name"),
            F.col("_rev").cast("double").alias("revenue"),
        )
    )


def ntile_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing of customers by account balance (NTILE over a
    total order — tie-broken by key so both engines assign identically),
    then one aggregate per decile. The global sort is the scale cost;
    when deciles-per-partition suffice, swap the window for
    ``percentile_approx`` boundaries + a range join."""
    c = load(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal"), 4).alias("total_balance"),
            F.min(F.col("c_acctbal")).alias("min_balance"),
            F.max(F.col("c_acctbal")).alias("max_balance"),
        )
        .orderBy("decile")
    )


def setop_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT): customers who ordered in 1996 but
    not in 1997, enriched back to their segment. ``subtract`` plans as a
    left-anti hash aggregate join — same shuffle shape as the insert-only
    merge (A6), demonstrated as a set operator."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    k96 = o.filter((d >= F.lit("1996-01-01").cast("date")) & (d < F.lit("1997-01-01").cast("date"))).select("o_custkey")
    k97 = o.filter((d >= F.lit("1997-01-01").cast("date")) & (d < F.lit("1998-01-01").cast("date"))).select("o_custkey")
    churned = k96.subtract(k97)
    c = load(spark, sf_dir, "customer")
    return (
        churned.join(c, churned.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_churned"))
        .orderBy("segment")
    )


def cond_agg_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (Q12 shape): per order-year, how many orders
    fall in urgent vs non-urgent priority classes — CASE WHEN inside SUM,
    one scan, one tiny aggregate shuffle."""
    o = load(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.groupBy(F.year(F.col("o_orderdate").cast("date")).alias("order_year"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("n_urgent"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("long").alias("n_normal"),
            dsum(F.when(urgent, F.col("o_totalprice")).otherwise(F.lit(0.0)), 2).alias(
                "urgent_value"
            ),
        )
        .orderBy("order_year")
    )


def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic CRM/warehouse scoring query): per
    customer recency (days since last order, vs the corpus max date),
    frequency (order count), monetary (exact decimal spend), each scored
    into quintiles, plus a champion/loyal/at-risk/other label.

    Shape: one custkey aggregate, then three ntile windows over the
    REDUCED per-customer frame. The ntile orderings all end in custkey so
    quintile boundaries are engine-stable. The windows are unpartitioned —
    fine post-reduction at dashboard scale; at 10^9 customers compute
    quintile boundaries via approx_percentile and broadcast-join them
    instead (documented scale path)."""
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(dec(F.col("o_totalprice"), 2)).alias("monetary_dec"),
    )
    max_date = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("max_date"))
    scored = (
        per_cust.join(F.broadcast(max_date))
        .withColumn("recency_days", F.datediff("max_date", "last_order"))
        .withColumn(
            "r_score",
            F.ntile(5).over(Window.orderBy(F.col("recency_days"), F.col("cust_key"))),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.col("cust_key"))),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(Window.orderBy(F.desc("monetary_dec"), F.col("cust_key"))),
        )
    )
    seg = (
        F.when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion")
        .when(F.col("f_score") <= 2, "loyal")
        .when(F.col("r_score") >= 4, "at_risk")
        .otherwise("other")
    )
    return scored.select(
        "cust_key",
        "recency_days",
        F.col("frequency").cast("long").alias("frequency"),
        F.col("monetary_dec").cast("double").alias("monetary"),
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        seg.alias("segment"),
    )


def nest_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document assembly: nest each order's lines into a sorted array of
    structs (the JSON-export / feature-list shape). collect_list is
    order-nondeterministic under shuffles, so the array is array_sort-ed
    on the (linenumber) struct head — that makes the nested value itself
    deterministic, which is the contract that matters when the nested
    column feeds training examples. Serialized to a canonical string for
    the cross-engine hash; one shuffle on orderkey. Restricted to one
    ship month to keep the spot-check surface small."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-03-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-04-01").cast("date"))
    )
    lines = li.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").cast("int").alias("ln"),
            F.col("l_partkey").cast("long").alias("pk"),
            (F.col("l_quantity") * 100).cast("long").alias("qty_units"),
        ).alias("line"),
    )
    nested = lines.groupBy(F.col("l_orderkey").alias("order_key")).agg(
        F.array_sort(F.collect_list("line")).alias("lines")
    )
    as_str = F.concat_ws(
        ";",
        F.transform(
            "lines",
            lambda s: F.concat_ws(
                ":", s["ln"].cast("string"), s["pk"].cast("string"), s["qty_units"].cast("string")
            ),
        ),
    )
    return nested.select(
        "order_key",
        F.size("lines").alias("n_lines"),
        as_str.alias("lines_doc"),
    ).orderBy("order_key")


def hier_revenue_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels (ratio_to_report): each
    nation's order revenue as a share of its region and of the world.
    One exact-decimal aggregate per nation, then two unpartitioned /
    region-partitioned window sums over the 25-row frame — the windows
    cost nothing because the hierarchy rollup happens AFTER the fact
    table has been reduced. Shares divide exact decimals in double."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum(dec(F.col("o_totalprice"), 2)).alias("rev_dec"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "rev_dec",
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return per_nation.select(
        "region",
        "nation",
        F.col("rev_dec").cast("double").alias("revenue"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w_region).cast("double")
            * 100.0
        ).alias("pct_of_region"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w_all).cast("double")
            * 100.0
        ).alias("pct_of_world"),
    ).orderBy("region", "nation")


def mad_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per symbol: median close, median absolute
    deviation (exact interpolated percentiles — closes are scale-2
    decimals, so the midpoint interpolation a+(b−a)·0.5 is the same
    double in both engines), and how many days sit beyond 5·MAD. Two
    symbol-keyed aggregates; the deviation pass re-joins the 1-row-per-
    symbol medians broadcast-style, so the fact shuffle happens once."""
    b = bars_silver(spark, sf_dir)
    closes = b.select("symbol", F.col("close").cast("double").alias("c"))
    med = closes.groupBy("symbol").agg(
        F.percentile(F.col("c"), F.lit(0.5)).alias("med_close"),
        F.count("*").alias("n_days"),
    )
    dev = closes.join(med, "symbol").select(
        "symbol", "med_close", "n_days", F.abs(F.col("c") - F.col("med_close")).alias("ad")
    )
    mad = dev.groupBy("symbol").agg(F.percentile(F.col("ad"), F.lit(0.5)).alias("mad"))
    return (
        dev.join(mad, "symbol")
        .groupBy("symbol")
        .agg(
            F.first("n_days").alias("n_days"),
            F.first("med_close").alias("med_close"),
            F.first("mad").alias("mad"),
            F.sum((F.col("ad") > 5 * F.col("mad")).cast("long")).alias("n_outliers"),
        )
        .orderBy("symbol")
    )


def unpivot_ohlc_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape of the OHLC silver via the built-in ``unpivot``
    (melt): 4 price columns become (field, price) rows — the inverse of
    pivot, an Expand node with NO shuffle (rows multiply in place), which
    is the right plan at any scale. Restricted to 3 symbols so the long
    output stays a spot-check surface."""
    b = bars_silver(spark, sf_dir).filter(F.col("symbol").isin("P1", "P2", "P3"))
    wide = b.select(
        "symbol",
        "trade_date",
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
    )
    return wide.unpivot(
        ids=["symbol", "trade_date"],
        values=["open", "high", "low", "close"],
        variableColumnName="field",
        valueColumnName="price",
    ).orderBy("symbol", "trade_date", "field")


def hist_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of extended price (40 buckets over [0, 120k]) —
    the profiling primitive behind every dashboard distribution panel.
    Bucketing is exact integer arithmetic (floor of price·100 units DIV
    width units), so bucket membership can never flip between engines;
    one hash aggregate with map-side combine, output is 40 rows."""
    li = load(spark, sf_dir, "lineitem")
    width_units = 3000 * 100  # 3k-wide buckets in scale-2 price units
    bucket = F.least(
        F.expr(f"CAST((CAST(l_extendedprice * 100 AS BIGINT)) DIV {width_units} AS INT)"),
        F.lit(39),
    )
    return (
        li.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_lines"))
        .select(
            "bucket",
            (F.col("bucket") * 3000.0).alias("lo"),
            ((F.col("bucket") + 1) * 3000.0).alias("hi"),
            "n_lines",
        )
        .orderBy("bucket")
    )


def w_price_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based window statistics per symbol: percent_rank and cume_dist
    of each day's close within the symbol's history, plus the first/last
    close over the full partition frame. All four are rank/count ratios or
    endpoint picks — no float accumulation, so cross-engine parity is
    structural. The single window shuffle keys on symbol; at 100 TB the
    input is the (already-reduced) silver, not raw fact rows."""
    b = bars_silver(spark, sf_dir).filter(F.col("symbol").isin("P1", "P2", "P3"))
    w = Window.partitionBy("symbol").orderBy("trade_date")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    close_d = F.col("close").cast("double")
    return b.select(
        "symbol",
        "trade_date",
        close_d.alias("close"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
        F.first(close_d).over(wf).alias("first_close"),
        F.last(close_d).over(wf).alias("last_close"),
    ).orderBy("symbol", "trade_date")


def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier centrality: PageRank (5 iterations, d=0.85) over the
    co-supply graph — suppliers are linked when they ship lines of the
    same order. The edge list is linear in the fact table (order size is
    bounded, so per-order pairs are a constant factor), degrees join once
    and each iteration is a single (node, decimal-contribution) shuffle —
    see ``operators.graph.pagerank`` for the bit-reproducibility
    discipline. Top-25 by rank with a key tie-break."""
    # pagerank's symmetric contract wants every edge in BOTH directions
    # (degrees are per-src out-degrees): consume the PERSISTED symmetric
    # silver and tell the operator the frame is already pinned
    edges = _cosupply_sym_edges(spark, sf_dir, "l_suppkey").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    from securities_pricing_data_pipeline_spark.operators.graph import pagerank

    # the co-supply graph is symmetric by construction (a↔b share an order)
    pr = pagerank(edges, iters=5, damping=0.85, symmetric=True, materialized=True)
    return (
        pr.select(F.col("node").alias("supp_key"), "rank")
        .orderBy(F.desc("rank"), "supp_key")
        .limit(25)
    )


def graph_triangles_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the supplier
    co-supply graph — the third graph-analytics member next to PageRank
    and connected components. Edge-iterator formulation over
    DEGREE-ORDERED oriented edges: each undirected edge points from its
    lower-(deg, id) endpoint to the higher, and each triangle {a,b,c}
    (a<b<c in that order) is counted exactly once at its lowest pair as
    |N⁺(a) ∩ N⁺(b)| ∋ c — one `array_intersect` per edge over the two
    oriented out-neighborhoods, no wedge-row materialization at all.
    Open triads are Σ C(deg,2) in pure integers; global clustering =
    3·triangles / triads is the one float division.

    Scale shape: the oriented edge list is linear in the fact table
    (bounded order size). Degree ordering caps every oriented
    out-degree at O(√m) (Schank-Wagner / Latapy), so adjacency arrays
    are bounded and the per-edge intersect work totals O(m^1.5) — hub
    vertices, whose raw-id wedges explode quadratically at 100×,
    become intersection SINKS, not sources. The adjacency join is a
    keyed equi-join AQE turns into a broadcast when the (node-sized)
    adjacency table is small; the intersect + count stays inside
    whole-stage codegen either way. On this 0.91-density co-supply
    graph the old wedge-join plan shuffled ~140M 16-byte wedge rows
    (21.8s at sf0.1 in the r5 driver); this shape runs 4.7s median.
    The count itself is ``operators.graph.triangle_stats`` — also
    exercised on a hub-skewed 1M-edge synthetic graph by the scale
    probe."""
    from securities_pricing_data_pipeline_spark.operators.graph import triangle_stats

    und = _copurchase_edges(spark, sf_dir, "l_suppkey")
    # keep the operator's own localCheckpoint here: the adjacency
    # build's join strategy keys off the checkpointed frame's stats, and
    # running it straight off the cached silver measured 11.1s vs 3.5s
    # (broadcast/coalesce flips in the hot intersect stage) — the ~0.5s
    # per-run copy buys the right plan shape
    return triangle_stats(und)


def graph_assortativity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Newman's r):
    the Pearson correlation of endpoint degrees over the SYMMETRIZED
    edge list — do popular parts co-occur in baskets with other popular
    parts (r>0) or with the long tail (r<0)? Completes the graph-summary
    trio next to PageRank (centrality) and triangle_stats (transitivity).
    The co-supply graph is the wrong subject here: at small SF it is
    complete, hence degree-regular, and r is 0/0 — the basket graph's
    degree spread is what makes the metric defined at every scale.

    Exactness (q16's moments discipline, widened): degrees are exact
    int64; every moment (Σd, Σd², Σdxdy) is an exact int64 sum; the
    closed-form numerator/denominator n·Σdxdy − (Σd)² are computed in
    DECIMAL(38,0) so they stay exact beyond the int64 budget (n·Σdxdy
    can pass 1e18 on a 100 TB edge list), and the single decimal→double
    division at the end is the only float op. Because the edge list is
    symmetric, Σdx = Σdy and Σdx² = Σdy², so the two-sided Pearson
    collapses to one denominator — computed once, used squared.

    Plan: degrees are one groupBy over the edge list; both endpoint
    joins are keyed equi-joins on the node id (AQE broadcasts the
    node-sized degree table); the moment aggregate is a map-side partial
    reduce to ONE row — no wedge or pair materialization anywhere, so
    the shape is strictly lighter than the triangle pass."""
    # the symmetrized edge list feeds THREE consumers (degree table, both
    # endpoint joins) — the persisted symmetric silver serves all three
    # without a per-run localCheckpoint copy (measured 29 exchanges
    # unchecked vs 7 when this lineage replayed per consumer)
    sym = _cosupply_sym_edges(spark, sf_dir, "l_partkey")
    # r15 (guide §2.4, VERDICT r14 item 7): the node-sized degree table
    # feeds BOTH endpoint joins — unpinned, each join's broadcast build
    # replayed the degree aggregate over the edge silver (two identical
    # passes; the 77-Exchange plan text the r14 audit flagged is this
    # replayed lineage). One localCheckpoint = one degree pass; the
    # explicit broadcast (gated on the graph module's node limit, the
    # checkpoint count is free) keeps both endpoint joins map-side
    # instead of trusting LogicalRDD stats.
    from securities_pricing_data_pipeline_spark.operators.graph import (
        BROADCAST_NODE_LIMIT,
    )

    deg = (
        sym.groupBy("u").agg(F.count("*").alias("deg")).localCheckpoint(eager=True)
    )
    bc = F.broadcast if deg.count() <= BROADCAST_NODE_LIMIT else (lambda df: df)
    e = sym.join(bc(deg.select("u", F.col("deg").alias("dx"))), "u").join(
        bc(deg.select(F.col("u").alias("v"), F.col("deg").alias("dy"))), "v"
    )
    agg = e.agg(
        F.count("*").alias("n_dir"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
    )
    dec = "decimal(38,0)"
    n = F.col("n_dir").cast(dec)
    num = n * F.col("sxy").cast(dec) - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    den = n * F.col("sxx").cast(dec) - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    return agg.select(
        (F.col("n_dir") / 2).cast("long").alias("n_edges"),
        (num.cast("double") / den.cast("double")).alias("assortativity"),
    )


def graph_communities_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph: two unrolled
    rounds of SYNCHRONOUS majority label propagation (Raghavan 2007's
    LPA, determinized) — each node adopts the most frequent label among
    its neighbors, vote ties break to the smaller label id. Labels start
    as node ids, so round 1 degenerates to min-neighbor (every neighbor
    label is distinct) and round 2 is the first genuine majority vote;
    fixing the round count and the tie order is what makes an otherwise
    order-sensitive heuristic bit-reproducible in both engines. Output
    is one row per surviving community with its population — the corpus
    community histogram next to PageRank (centrality), triangles
    (transitivity), and assortativity (mixing).

    Plan: per round, ONE keyed equi-join of the symmetric edge list
    against the node-sized (node, label) frame, a (node, label) count
    aggregate, and a row_number argmax — all shuffles carry id pairs
    only, never adjacency arrays, so a round costs the same as one
    PageRank iteration and hub skew lands in AQE-splittable hash
    aggregates. At 100 TB the (node, label) frame stays linear in the
    node count and iteration count is fixed."""
    from securities_pricing_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    # the edge list feeds both join sides each round — the persisted
    # symmetric silver serves both without a per-run checkpoint copy
    sym = _cosupply_sym_edges(spark, sf_dir, "l_partkey")
    return (
        label_propagation(sym, rounds=2)
        .groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"))
    )


def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by revenue: rank parts by
    descending revenue, classify by cumulative share (A ≤ 80%, B ≤ 95%,
    C rest), report each class's size and revenue share — the standard
    inventory-analytics cut ("which 20% of parts carry 80% of revenue").

    Revenue accumulates as exact integer cents under one descending-rank
    window (part-cardinality rows, post reduction — the global-window
    rule), so the cumulative shares both engines compare against the
    0.8/0.95 thresholds are bit-identical; classification can't flip."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0))
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("rev_cents"))
    w_cum = Window.orderBy(F.desc("rev_cents"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    ranked = rev.select(
        "rev_cents",
        F.sum("rev_cents").over(w_cum).alias("cum_cents"),
        F.sum("rev_cents").over(w_all).alias("tot_cents"),
    )
    share = F.col("cum_cents").cast("double") / F.col("tot_cents").cast("double")
    classed = ranked.withColumn(
        "abc_class",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev_cents").alias("class_cents"),
            F.max("tot_cents").alias("tot_cents"),
        )
        .select(
            "abc_class",
            "n_parts",
            (F.col("class_cents").cast("double") / F.lit(100.0)).alias("class_revenue"),
            (
                F.col("class_cents").cast("double") / F.col("tot_cents").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


def _pagerank_oracle_sql(iters: int = 5) -> str:
    head = """
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
), edges AS (
  SELECT DISTINCT a.sk AS src, b.sk AS dst
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk <> b.sk
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), nn AS (
  SELECT COUNT(*) AS n FROM deg
), it0 AS (
  SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg
)"""
    its = ""
    for i in range(1, iters + 1):
        its += f""", it{i} AS (
  SELECT d.src AS node,
         (1.0 - 0.85) / (SELECT n FROM nn)
           + 0.85 * COALESCE(CAST(s.s AS DOUBLE), 0.0) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, SUM(CAST(r.rank / g.deg AS DECIMAL(38,12))) AS s
    FROM edges e JOIN deg g ON e.src = g.src JOIN it{i - 1} r ON e.src = r.node
    GROUP BY e.dst
  ) s ON d.src = s.node
)"""
    return (
        head
        + its
        + f"""
SELECT node AS supp_key, rank FROM it{iters}
ORDER BY rank DESC, supp_key LIMIT 25
"""
    )


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (the A-priori k=2 pass): parts that ship
    together in the same order, top-25 by co-occurrence support with a
    deterministic tie-break. The pair generation is an ORDER-KEYED
    self-join — blowup is bounded by lines-per-order² (≤ 49 here, a
    per-basket constant at any corpus size), never corpus-quadratic; the
    shuffle key is the order key, so at 100 TB this is one fact-table
    shuffle plus a pair-keyed count whose map-side partials collapse the
    long tail. The (order, part) projection is de-duplicated first so a
    part that appears on several lines of one order still counts that
    basket once — support is baskets-containing-the-pair, the A-priori
    definition, not line-pair combinatorics."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(25)
    )


QUERIES = {
    "basket_part_pairs": basket_part_pairs,
    "graph_pagerank_suppliers": graph_pagerank_suppliers,
    "graph_triangles_suppliers": graph_triangles_suppliers,
    "graph_assortativity_parts": graph_assortativity_parts,
    "graph_communities_parts": graph_communities_parts,
    "pareto_abc_parts": pareto_abc_parts,
    "hist_price_buckets": hist_price_buckets,
    "unpivot_ohlc_long": unpivot_ohlc_long,
    "hier_revenue_shares": hier_revenue_shares,
    "nest_order_lines": nest_order_lines,
    "mad_price_outliers": mad_price_outliers,
    "w_price_position": w_price_position,
    "rfm_customer_segments": rfm_customer_segments,
    "w_cumulative_revenue": w_cumulative_revenue,
    "topk_parts_per_brand": topk_parts_per_brand,
    "ntile_customer_deciles": ntile_customer_deciles,
    "setop_churned_customers": setop_churned_customers,
    "cond_agg_priority_classes": cond_agg_priority_classes,
    "pivot_segment_status": pivot_segment_status,
    "cube_priority_status": cube_priority_status,
    "rollup_region_nation_revenue": rollup_region_nation_revenue,
    "w_month_open_close": w_month_open_close,
    "mode_order_priority": mode_order_priority,
    "percentile_quantity_exact": percentile_quantity_exact,
}

ORACLES = {
    "basket_part_pairs": """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
FROM baskets a JOIN baskets b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY support DESC, part_a, part_b
LIMIT 25
""",
    "graph_pagerank_suppliers": _pagerank_oracle_sql(5),
    "nest_order_lines": """
WITH lines AS (
  SELECT l_orderkey,
         CAST(l_linenumber AS INT) AS ln,
         CAST(l_partkey AS BIGINT) AS pk,
         CAST(l_quantity * 100 AS BIGINT) AS qty_units
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-03-01'
    AND CAST(l_shipdate AS DATE) <  DATE '1997-04-01'
)
SELECT l_orderkey AS order_key,
       CAST(COUNT(*) AS INT) AS n_lines,
       string_agg(CAST(ln AS VARCHAR) || ':' || CAST(pk AS VARCHAR) || ':'
                  || CAST(qty_units AS VARCHAR), ';' ORDER BY ln, pk, qty_units) AS lines_doc
FROM lines GROUP BY l_orderkey ORDER BY order_key
""",
    "hier_revenue_shares": """
WITH per_nation AS (
  SELECT r_name AS region, n_name AS nation,
         SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS rev_dec
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation, CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE)
         / CAST(SUM(rev_dec) OVER (PARTITION BY region) AS DOUBLE) * 100.0 AS pct_of_region,
       CAST(rev_dec AS DOUBLE)
         / CAST(SUM(rev_dec) OVER () AS DOUBLE) * 100.0 AS pct_of_world
FROM per_nation ORDER BY region, nation
""",
    "mad_price_outliers": BARS_SQL + """
, closes AS (
  SELECT symbol, CAST(close AS DOUBLE) AS c FROM bars
), med AS (
  SELECT symbol, quantile_cont(c, 0.5) AS med_close, COUNT(*) AS n_days
  FROM closes GROUP BY symbol
), dev AS (
  SELECT c.symbol, m.med_close, m.n_days, abs(c.c - m.med_close) AS ad
  FROM closes c JOIN med m ON c.symbol = m.symbol
), mad AS (
  SELECT symbol, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY symbol
)
SELECT d.symbol, CAST(MIN(d.n_days) AS BIGINT) AS n_days,
       MIN(d.med_close) AS med_close, MIN(a.mad) AS mad,
       CAST(SUM(CASE WHEN d.ad > 5 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad a ON d.symbol = a.symbol
GROUP BY d.symbol ORDER BY d.symbol
""",
    "unpivot_ohlc_long": BARS_SQL + """
, wide AS (
  SELECT symbol, trade_date,
         CAST(open AS DOUBLE) AS open, CAST(high AS DOUBLE) AS high,
         CAST(low AS DOUBLE) AS low, CAST(close AS DOUBLE) AS close
  FROM bars WHERE symbol IN ('P1', 'P2', 'P3')
)
SELECT symbol, trade_date, field, price FROM (
  SELECT symbol, trade_date, 'open' AS field, open AS price FROM wide
  UNION ALL SELECT symbol, trade_date, 'high', high FROM wide
  UNION ALL SELECT symbol, trade_date, 'low', low FROM wide
  UNION ALL SELECT symbol, trade_date, 'close', close FROM wide
) ORDER BY symbol, trade_date, field
""",
    "hist_price_buckets": """
SELECT bucket, bucket * 3000.0 AS lo, (bucket + 1) * 3000.0 AS hi,
       COUNT(*) AS n_lines
FROM (SELECT least(CAST(CAST(l_extendedprice * 100 AS BIGINT) // 300000 AS INT), 39) AS bucket
      FROM lineitem)
GROUP BY bucket ORDER BY bucket
""",
    "w_price_position": BARS_SQL + """
SELECT symbol, trade_date, CAST(close AS DOUBLE) AS close,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume_dist,
       first_value(CAST(close AS DOUBLE)) OVER wf AS first_close,
       last_value(CAST(close AS DOUBLE)) OVER wf AS last_close
FROM bars WHERE symbol IN ('P1', 'P2', 'P3')
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date),
       wf AS (PARTITION BY symbol ORDER BY trade_date
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY symbol, trade_date
""",
    "setop_churned_customers": """
WITH churned AS (
  SELECT o_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
    AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
  EXCEPT
  SELECT o_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
    AND CAST(o_orderdate AS DATE) <  DATE '1998-01-01'
)
SELECT c_mktsegment AS segment, COUNT(*) AS n_churned
FROM churned JOIN customer ON o_custkey = c_custkey
GROUP BY 1
ORDER BY 1
""",
    "cond_agg_priority_classes": f"""
SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS n_normal,
       {sql_dsum("CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN o_totalprice ELSE 0.0 END", 2)}
         AS urgent_value
FROM orders
GROUP BY 1
ORDER BY 1
""",
    "ntile_customer_deciles": f"""
WITH d AS (
  SELECT c_acctbal,
         NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
  FROM customer
)
SELECT decile,
       COUNT(*) AS n_customers,
       {sql_dsum('c_acctbal', 4)} AS total_balance,
       MIN(c_acctbal) AS min_balance,
       MAX(c_acctbal) AS max_balance
FROM d
GROUP BY decile
ORDER BY decile
""",
    "topk_parts_per_brand": """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS _rev
  FROM lineitem
  GROUP BY l_partkey
)
SELECT p_brand AS brand,
       ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY _rev DESC, p_partkey)
         AS brand_rank,
       p_partkey AS part_key,
       p_name AS part_name,
       CAST(_rev AS DOUBLE) AS revenue
FROM per_part JOIN part ON l_partkey = p_partkey
QUALIFY brand_rank <= 3
""",
    "w_cumulative_revenue": """
WITH daily AS (
  SELECT l_returnflag,
         CAST(l_shipdate AS DATE) AS ship_date,
         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS _rev,
         COUNT(*) AS n_lines
  FROM lineitem
  GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
)
SELECT l_returnflag AS return_flag, ship_date,
       CAST(_rev AS DOUBLE) AS day_revenue,
       CAST(SUM(_rev) OVER (PARTITION BY l_returnflag ORDER BY ship_date) AS DOUBLE)
         AS cum_revenue,
       n_lines
FROM daily
""",
    "pivot_segment_status": """
SELECT c_mktsegment AS segment,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "cube_priority_status": f"""
SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END
         AS priority,
       CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END
         AS status,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""",
    "rollup_region_nation_revenue": f"""
SELECT CASE WHEN GROUPING(r.r_name) = 1 THEN 'ALL' ELSE r.r_name END AS region,
       CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
       COUNT(*) AS n_lines,
       {sql_dsum("l.l_extendedprice * (1.0 - l.l_discount)", 4)} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
    "w_month_open_close": BARS_SQL
    + """
, d AS (
  SELECT symbol,
         date_trunc('month', trade_date) AS month_start,
         row_number() OVER wo AS rn,
         COUNT(*) OVER wf AS n_days,
         first_value(CAST(open * 10000 AS BIGINT)) OVER wf AS first_ou,
         last_value(CAST(close * 10000 AS BIGINT)) OVER wf AS last_cu,
         nth_value(CAST(close * 10000 AS BIGINT), 3) OVER wf AS d3_cu
  FROM bars
  WINDOW wo AS (PARTITION BY symbol, date_trunc('month', trade_date)
                ORDER BY trade_date),
         wf AS (PARTITION BY symbol, date_trunc('month', trade_date)
                ORDER BY trade_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT symbol, CAST(month_start AS DATE) AS month_start, n_days,
       CAST(first_ou AS DOUBLE) / 10000.0 AS month_open,
       CAST(last_cu AS DOUBLE) / 10000.0 AS month_close,
       CAST(d3_cu AS DOUBLE) / 10000.0 AS day3_close
FROM d WHERE rn = 1
""",
    "mode_order_priority": """
WITH counts AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority, COUNT(*) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY segment
                               ORDER BY n DESC, priority) AS rn
  FROM counts
)
SELECT segment, priority, n FROM ranked WHERE rn = 1
""",
    "percentile_quantity_exact": """
SELECT l_returnflag AS return_flag,
       quantile_cont(l_quantity, 0.25) AS qty_p25,
       quantile_cont(l_quantity, 0.5)  AS qty_p50,
       quantile_cont(l_quantity, 0.75) AS qty_p75,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
""",
}

ORACLES["pareto_abc_parts"] = """
WITH rev AS (
  SELECT l_partkey, CAST(SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT rev_cents,
         CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
         CAST(SUM(rev_cents) OVER () AS BIGINT) AS tot_cents
  FROM rev
), classed AS (
  SELECT rev_cents, tot_cents,
         CASE WHEN CAST(cum_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE) <= 0.80 THEN 'A'
              WHEN CAST(cum_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class, COUNT(*) AS n_parts,
       CAST(SUM(rev_cents) AS DOUBLE) / 100.0 AS class_revenue,
       CAST(SUM(rev_cents) AS DOUBLE) / CAST(MAX(tot_cents) AS DOUBLE) AS revenue_share
FROM classed
GROUP BY 1
ORDER BY 1
"""

ORACLES["graph_triangles_suppliers"] = """
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
), edges AS (
  SELECT DISTINCT a.sk AS u, b.sk AS v
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk
), deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) t GROUP BY 1
), nt AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_triads
  FROM deg
), ne AS (
  SELECT COUNT(*) AS n_edges FROM edges
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
)
SELECT n_nodes, n_edges, n_triangles, n_triads,
       (3.0 * CAST(n_triangles AS DOUBLE)) / CAST(n_triads AS DOUBLE) AS global_clustering
FROM nt, ne, tri
"""

ORACLES["graph_communities_parts"] = """
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem
), und AS (
  SELECT DISTINCT a.sk AS u, b.sk AS v
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk
), e AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
), c1 AS (
  SELECT u AS node, v AS nl, COUNT(*) AS c FROM e GROUP BY 1, 2
), l1 AS (
  SELECT node, nl AS label FROM (
    SELECT node, nl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, nl) AS rn
    FROM c1) WHERE rn = 1
), c2 AS (
  SELECT e.u AS node, l1.label AS nl, COUNT(*) AS c
  FROM e JOIN l1 ON e.v = l1.node GROUP BY 1, 2
), l2 AS (
  SELECT node, nl AS label FROM (
    SELECT node, nl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, nl) AS rn
    FROM c2) WHERE rn = 1
)
SELECT label AS community, COUNT(*) AS n_members FROM l2 GROUP BY 1
"""

ORACLES["graph_assortativity_parts"] = """
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem
), und AS (
  SELECT DISTINCT a.sk AS u, b.sk AS v
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk
), sym AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
), deg AS (
  SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1
), m AS (
  SELECT COUNT(*) AS n_dir,
         CAST(SUM(dx.deg) AS BIGINT) AS sx,
         CAST(SUM(dx.deg * dy.deg) AS BIGINT) AS sxy,
         CAST(SUM(dx.deg * dx.deg) AS BIGINT) AS sxx
  FROM sym e JOIN deg dx ON e.u = dx.node JOIN deg dy ON e.v = dy.node
)
SELECT CAST(n_dir / 2 AS BIGINT) AS n_edges,
       CAST(CAST(n_dir AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))
            - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
         / CAST(CAST(n_dir AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
                - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
         AS assortativity
FROM m
"""

ORACLES["rfm_customer_segments"] = """
WITH per_cust AS (
  SELECT o_custkey AS cust_key,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS monetary_dec
  FROM orders GROUP BY 1
), mx AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS max_date FROM orders
), scored AS (
  SELECT cust_key,
         date_diff('day', last_order, max_date) AS recency_days,
         frequency, monetary_dec,
         ntile(5) OVER (ORDER BY date_diff('day', last_order, max_date), cust_key) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, cust_key) AS f_score,
         ntile(5) OVER (ORDER BY monetary_dec DESC, cust_key) AS m_score
  FROM per_cust, mx
)
SELECT cust_key, recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       CAST(monetary_dec AS DOUBLE) AS monetary,
       CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
            WHEN f_score <= 2 THEN 'loyal'
            WHEN r_score >= 4 THEN 'at_risk'
            ELSE 'other' END AS segment
FROM scored
"""


def _part_copurchase_edges(spark: SparkSession, sf_dir: str):
    """Canonical (u < v, distinct) part co-purchase edge list over the
    EVEN-partkey node subset — the deterministic quarter-size subgraph
    the per-edge queries (jaccard / k-core) run on: edge-jaccard
    enumerates every triangle and on the full 1.2M-edge sf0.1 graph that
    made it the single most expensive bench entry (9.0s); the even
    subgraph keeps the same degree shape (median 57 vs 115) at ~1/8 the
    triangle count. The whole-graph family (triangles/assortativity/LPA)
    builds its own full edge list inline."""
    return _copurchase_edges(spark, sf_dir, "l_partkey", even_only=True)


def graph_edge_jaccard_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link scoring on the part co-purchase graph:
    for every EXISTING edge (u, v), J = |N(u)∩N(v)| / |N(u)∪N(v)| over
    endpoint-excluded neighborhoods — the classic link-prediction /
    edge-embeddedness score ("how much do these parts' baskets
    overlap?"). Top-20 edges by score, (u, v) tie-break.

    Exactness: the common-neighbor count is per-edge triangle support
    (an exact int); |A∪B| = deg_u + deg_v − 2 − cn is exact ints; the
    emitted score is the scaled rational 10^6·cn DIV |A∪B| — no float
    division anywhere, so ranking and values are bit-identical
    cross-engine.

    Scale shape: support comes from ``operators.graph.
    edge_triangle_support`` — the degree-ordered edge-iterator that
    ENUMERATES each triangle once (O(m^1.5 + #triangles) total work,
    hub-safe) instead of the wedge join the naive plan pays (quadratic
    in hub degree, the shape the r5 triangle fix killed). Degrees join
    on node id (AQE broadcasts the node-sized table)."""
    from securities_pricing_data_pipeline_spark.operators.graph import (
        edge_triangle_support,
    )

    # pin the edge list: it feeds the support operator AND both degree
    # consumers — and degrees must come from the pinned INPUT, not the
    # operator's output, or the whole enumeration pipeline replays per
    # consumer (the first plan audit showed 54 exchanges / 27 SMJs; this
    # shape has 3 consumers of one cached frame)
    # the silver is already persisted — no per-run localCheckpoint copy
    und = _part_copurchase_edges(spark, sf_dir)
    sup = edge_triangle_support(und, materialized=True)
    deg_src = und.select(F.col("u").alias("node")).unionAll(
        und.select(F.col("v").alias("node"))
    )
    deg = deg_src.groupBy("node").agg(F.count("*").alias("deg"))
    j = (
        sup.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("degu")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("degv")), "v")
        .withColumn("union_sz", F.col("degu") + F.col("degv") - 2 - F.col("support"))
        .withColumn(
            "jaccard_scaled",
            F.when(F.col("union_sz") > 0, F.expr("1000000 * support div union_sz"))
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    return (
        j.select("u", "v", F.col("support").alias("common_nbrs"), "union_sz", "jaccard_scaled")
        .orderBy(F.desc("jaccard_scaled"), "u", "v")
        .limit(20)
    )


def graph_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling profile of the even-partkey co-purchase subgraph
    (k=55, 3 synchronous rounds): per round, the surviving node and edge
    counts after dropping every node whose current degree is below k.
    The fixed round count determinizes the classic iterative
    decomposition (same discipline as the unrolled LPA rounds) so a SQL
    oracle can replay it exactly; the subgraph's degree spread (median
    ≈ 57–59 at every SF) makes k=55 peel a real cascade instead of a
    no-op.

    Scale shape: see ``operators.graph.kcore_peel`` — per round one
    degree aggregate + two node-sized semi-joins; id-only shuffles, one
    PageRank-iteration cost class per round."""
    from securities_pricing_data_pipeline_spark.operators.graph import kcore_peel

    und = _part_copurchase_edges(spark, sf_dir)
    # silver already persisted; round-1 peel derives from it directly
    return kcore_peel(und, k=55, rounds=3, materialized=True)


QUERIES["graph_edge_jaccard_parts"] = graph_edge_jaccard_parts
QUERIES["graph_kcore_parts"] = graph_kcore_parts

ORACLES["graph_edge_jaccard_parts"] = """
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
  WHERE l_partkey % 2 = 0
), und AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.pk < b.pk
), sym AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
), deg AS (
  SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1
), cn AS (
  SELECT e.u, e.v, COUNT(*) AS support
  FROM und e
  JOIN sym a ON a.u = e.u
  JOIN sym b ON b.u = e.v AND b.v = a.v
  GROUP BY 1, 2
), sup AS (
  SELECT e.u, e.v, COALESCE(cn.support, 0) AS support
  FROM und e LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v
), j AS (
  SELECT s.u, s.v, s.support AS common_nbrs,
         du.deg + dv.deg - 2 - s.support AS union_sz,
         CASE WHEN du.deg + dv.deg - 2 - s.support > 0
              THEN 1000000 * s.support // (du.deg + dv.deg - 2 - s.support)
              ELSE 0 END AS jaccard_scaled
  FROM sup s JOIN deg du ON s.u = du.node JOIN deg dv ON s.v = dv.node
)
SELECT u, v, common_nbrs, union_sz, CAST(jaccard_scaled AS BIGINT) AS jaccard_scaled
FROM j ORDER BY jaccard_scaled DESC, u, v LIMIT 20
"""

ORACLES["graph_kcore_parts"] = """
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
  WHERE l_partkey % 2 = 0
), e0 AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.pk < b.pk
), d1 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) t GROUP BY 1
), k1 AS (SELECT node FROM d1 WHERE deg >= 55),
e1 AS (
  SELECT u, v FROM e0
  WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)
), d2 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) t GROUP BY 1
), k2 AS (SELECT node FROM d2 WHERE deg >= 55),
e2 AS (
  SELECT u, v FROM e1
  WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2)
), d3 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) t GROUP BY 1
), k3 AS (SELECT node FROM d3 WHERE deg >= 55),
e3 AS (
  SELECT u, v FROM e2
  WHERE u IN (SELECT node FROM k3) AND v IN (SELECT node FROM k3)
)
SELECT 1 AS round,
       (SELECT COUNT(DISTINCT node) FROM (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)) AS n_nodes,
       (SELECT COUNT(*) FROM e1) AS n_edges
UNION ALL
SELECT 2,
       (SELECT COUNT(DISTINCT node) FROM (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)),
       (SELECT COUNT(*) FROM e2)
UNION ALL
SELECT 3,
       (SELECT COUNT(DISTINCT node) FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)),
       (SELECT COUNT(*) FROM e3)
"""


def graph_ppr_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank around supplier 1 on the co-supply graph
    (4 iterations, d=0.85, restart mass on the seed): the top-15
    suppliers by proximity to the anchor — the influence/recommendation
    twin of the global-centrality query. Runs on the shared edge-list
    silver symmetrized both ways (``operators.graph.
    personalized_pagerank`` for the determinism discipline)."""
    from securities_pricing_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = _cosupply_sym_edges(spark, sf_dir, "l_suppkey").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    pr = personalized_pagerank(edges, seed=1, iters=4, damping=0.85, materialized=True)
    return (
        pr.select(F.col("node").alias("supp_key"), "rank")
        .orderBy(F.desc("rank"), "supp_key")
        .limit(15)
    )


QUERIES["graph_ppr_supplier"] = graph_ppr_supplier


def _ppr_oracle_sql(iters: int = 4, seed: int = 1) -> str:
    """Unrolled PPR oracle — the _pagerank_oracle_sql shape with the
    uniform teleport replaced by the seed indicator and rank_0 = [seed]."""
    head = f"""
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
), edges AS (
  SELECT DISTINCT a.sk AS src, b.sk AS dst
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk <> b.sk
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), it0 AS (
  SELECT src AS node,
         CASE WHEN src = {seed} THEN 1.0 ELSE 0.0 END AS rank
  FROM deg
)"""
    its = ""
    for i in range(1, iters + 1):
        its += f""", it{i} AS (
  SELECT d.src AS node,
         CASE WHEN d.src = {seed} THEN (1.0 - 0.85) ELSE 0.0 END
           + 0.85 * COALESCE(CAST(s.s AS DOUBLE), 0.0) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, SUM(CAST(r.rank / g.deg AS DECIMAL(38,12))) AS s
    FROM edges e JOIN deg g ON e.src = g.src JOIN it{i - 1} r ON e.src = r.node
    GROUP BY e.dst
  ) s ON d.src = s.node
)"""
    return (
        head
        + its
        + f"""
SELECT node AS supp_key, rank FROM it{iters}
ORDER BY rank DESC, supp_key LIMIT 15
"""
    )


ORACLES["graph_ppr_supplier"] = _ppr_oracle_sql(4, 1)


def basket_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over part co-purchase pairs (the A-priori
    metrics pass on top of ``basket_part_pairs``): for every pair with
    basket support ≥ 2, confidence(a→b) = supp(a,b)/supp(a) and
    lift = N·supp(a,b) / (supp(a)·supp(b)) — the "bought-together"
    readout that separates genuinely associated parts from merely
    popular ones. Top-20 by lift with the (a, b) tie-break.

    Exactness: every support is an exact distinct-basket count; the two
    published ratios are single exact-int÷exact-int double divisions
    (the lift numerator N·supp(a,b) stays < 2^63 to ~10^9 baskets —
    widen to decimal past that). Plan: pair counts ride the
    order-keyed self-join (bounded by lines-per-order², never
    corpus-quadratic); per-part supports are one groupBy; both joins
    onto the pair list are node-sized broadcasts."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_baskets = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    part_supp = li.groupBy("l_partkey").agg(F.count("*").alias("psupp"))
    a, b = li.alias("a"), li.alias("b")
    pair_supp = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_supp"))
        .filter(F.col("pair_supp") >= 2)
    )
    scored = (
        pair_supp.join(
            F.broadcast(part_supp.select(F.col("l_partkey").alias("part_a"), F.col("psupp").alias("supp_a"))),
            "part_a",
        )
        .join(
            F.broadcast(part_supp.select(F.col("l_partkey").alias("part_b"), F.col("psupp").alias("supp_b"))),
            "part_b",
        )
        .join(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "pair_supp",
            "supp_a",
            "supp_b",
            (F.col("pair_supp").cast("double") / F.col("supp_a")).alias("confidence"),
            (
                (F.col("n_baskets") * F.col("pair_supp")).cast("double")
                / (F.col("supp_a") * F.col("supp_b")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "part_a", "part_b").limit(20)


QUERIES["basket_rules_lift"] = basket_rules_lift

ORACLES["basket_rules_lift"] = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), nb AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li
), ps AS (
  SELECT l_partkey, COUNT(*) AS psupp FROM li GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_supp
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT p.part_a, p.part_b, p.pair_supp,
       sa.psupp AS supp_a, sb.psupp AS supp_b,
       CAST(p.pair_supp AS DOUBLE) / sa.psupp AS confidence,
       CAST(nb.n_baskets * p.pair_supp AS DOUBLE)
         / CAST(sa.psupp * sb.psupp AS DOUBLE) AS lift
FROM pairs p
JOIN ps sa ON p.part_a = sa.l_partkey
JOIN ps sb ON p.part_b = sb.l_partkey, nb
ORDER BY lift DESC, part_a, part_b LIMIT 20
"""


def transit_timeline_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-transit line count over time via the SWEEP-LINE (+1/−1 event)
    formulation: each line contributes +1 at its ship date and −1 the
    day after its receipt date (same deterministic 1–21-day transit span
    as ``range_join_in_transit``); deltas aggregate per boundary date
    and one cumulative sum yields the open-interval count at every
    boundary. This is the scale path for interval-census questions: the
    range join prices k probe dates at k × interval-overlap cost, while
    the sweep is two linear projections + ONE date-cardinality
    aggregate + a window over ~thousands of reduced rows — at 100 TB the
    full daily census costs one shuffle of (date, ±1) pairs. Counts are
    pure integers; no floats anywhere."""
    li = load(spark, sf_dir, "lineitem")
    transit_days = ((F.col("l_orderkey") * 10 + F.col("l_linenumber")) % 21 + 1).cast("int")
    ship = li.select(
        F.col("l_shipdate").cast("date").alias("d"), F.lit(1).alias("delta")
    )
    recv = li.select(
        F.date_add(F.col("l_shipdate").cast("date"), transit_days + 1).alias("d"),
        F.lit(-1).alias("delta"),
    )
    deltas = ship.unionAll(recv).groupBy("d").agg(F.sum("delta").alias("net_delta"))
    # global window over DATE-cardinality rows (the reduce-first rule):
    # ~2.4k boundary dates regardless of fact-table size
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "d",
        F.col("net_delta").cast("long").alias("net_delta"),
        F.sum("net_delta").over(w).cast("long").alias("open_lines"),
    )


QUERIES["transit_timeline_sweep"] = transit_timeline_sweep

ORACLES["transit_timeline_sweep"] = """
WITH iv AS (
  SELECT CAST(l_shipdate AS DATE) AS ship_date,
         CAST(l_shipdate AS DATE)
           + CAST(((l_orderkey * 10 + l_linenumber) % 21 + 1) AS INT) AS receipt_date
  FROM lineitem
), deltas AS (
  SELECT d, CAST(SUM(delta) AS BIGINT) AS net_delta FROM (
    SELECT ship_date AS d, 1 AS delta FROM iv
    UNION ALL
    SELECT receipt_date + 1, -1 FROM iv
  ) GROUP BY 1
)
SELECT d, net_delta,
       CAST(SUM(net_delta) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_lines
FROM deltas
"""


def graph_hits_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED supplier→part shipping
    graph (distinct (l_suppkey, l_partkey) pairs): hub suppliers cover
    many well-covered parts, authority parts are covered by strong-hub
    suppliers — the mutual-reinforcement centrality that plain degree
    misses, and the directed complement to the symmetric-graph PageRank
    query. Two L1-normalized rounds (``operators.graph.hits`` for the
    decimal-snap determinism discipline); top-10 of each role with key
    tie-breaks, role-tagged in one frame."""
    from securities_pricing_data_pipeline_spark.operators.graph import hits

    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    h, a = hits(edges, iters=2)
    top_a = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("node").alias("key"),
            F.col("a").alias("score"),
        )
        .orderBy(F.desc("score"), "key")
        .limit(10)
    )
    top_h = (
        h.select(
            F.lit("hub").alias("role"),
            F.col("node").alias("key"),
            F.col("h").alias("score"),
        )
        .orderBy(F.desc("score"), "key")
        .limit(10)
    )
    return top_a.unionByName(top_h).orderBy("role", F.desc("score"), "key")


QUERIES["graph_hits_supplier_parts"] = graph_hits_supplier_parts


def _hits_oracle_sql(iters: int = 2) -> str:
    """DuckDB twin of operators.graph.hits on the supplier→part graph:
    the same decimal-snapped sums and double normalizations, unrolled."""
    sql = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
), h0 AS (
  SELECT DISTINCT s, CAST(1.0 AS DOUBLE) AS h FROM e
)"""
    for i in range(1, iters + 1):
        sql += f""", a{i}r AS (
  SELECT p, SUM(CAST(h AS DECIMAL(38,12))) AS ar
  FROM e JOIN h{i - 1} USING (s) GROUP BY p
), a{i} AS (
  SELECT p, CAST(ar AS DOUBLE)
            / (SELECT CAST(SUM(ar) AS DOUBLE) FROM a{i}r) AS a
  FROM a{i}r
), h{i}r AS (
  SELECT s, SUM(CAST(a AS DECIMAL(38,12))) AS hr
  FROM e JOIN a{i} USING (p) GROUP BY s
), h{i} AS (
  SELECT s, CAST(hr AS DOUBLE)
            / (SELECT CAST(SUM(hr) AS DOUBLE) FROM h{i}r) AS h
  FROM h{i}r
)"""
    return (
        sql
        + f"""
SELECT * FROM (
  SELECT 'authority' AS role, p AS key, a AS score FROM a{iters}
  ORDER BY score DESC, key LIMIT 10
)
UNION ALL
SELECT * FROM (
  SELECT 'hub' AS role, s AS key, h AS score FROM h{iters}
  ORDER BY score DESC, key LIMIT 10
)
ORDER BY role, score DESC, key
"""
    )


ORACLES["graph_hits_supplier_parts"] = _hits_oracle_sql(2)


def graph_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hop distances from 4 landmark suppliers over the co-supply
    graph, depth ≤ 3 (``operators.graph.landmark_bfs``) — the
    landmark-distance sketch large graphs use in place of all-pairs
    closeness. Reads the shared symmetric edge silver; the oracle
    re-runs the same BFS as a depth-bounded recursive CTE with a MIN
    reduction."""
    from securities_pricing_data_pipeline_spark.operators.graph import landmark_bfs

    edges = _cosupply_sym_edges(spark, sf_dir, "l_suppkey")
    return landmark_bfs(
        edges, seeds=[1, 2, 3, 4], max_depth=3, src="u", dst="v", materialized=True
    )


QUERIES["graph_landmark_distances"] = graph_landmark_distances

ORACLES["graph_landmark_distances"] = """
WITH RECURSIVE ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
), edges AS (
  SELECT DISTINCT a.sk AS u, b.sk AS v
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk <> b.sk
), bfs(landmark, node, dist) AS (
  SELECT sk, sk, 0 FROM (SELECT UNNEST([1, 2, 3, 4]) AS sk)
  UNION
  SELECT b.landmark, e.v, b.dist + 1
  FROM bfs b JOIN edges e ON e.u = b.node
  WHERE b.dist < 3
)
SELECT CAST(landmark AS BIGINT) AS landmark, CAST(node AS BIGINT) AS node,
       CAST(MIN(dist) AS INT) AS dist
FROM bfs GROUP BY 1, 2
ORDER BY landmark, node
"""


def graph_modularity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q per LPA community on the part co-purchase graph
    (``operators.graph.modularity`` over the same 2-round deterministic
    label propagation as graph_communities_parts) — closes the
    detect→evaluate loop: LPA proposes the partition, modularity scores
    it, the number a curator checks before trusting community ids as a
    grouping key. Per-community rows (members, intra edges, degree sum,
    exact-rational Q contribution); the partition's modularity is their
    sum. Reads the shared symmetric edge silver; labels and degrees are
    node-sized frames; contributions are DECIMAL(38,0) rationals with
    one final double division (the assortativity moments discipline)."""
    from securities_pricing_data_pipeline_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    sym = _cosupply_sym_edges(spark, sf_dir, "l_partkey")
    return modularity(sym, label_propagation(sym, rounds=2))


QUERIES["graph_modularity_parts"] = graph_modularity_parts

# Replays the LPA rounds of ORACLES["graph_communities_parts"] verbatim,
# then scores each community: intra-edge count over the canonical (u < v)
# edge half, degree sums over the symmetric list, and the exact
# DECIMAL(38,0) rational (4·m·l_c − d_c²)/(4·m²) as the only float op.
ORACLES["graph_modularity_parts"] = """
WITH ls AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem
), und AS (
  SELECT DISTINCT a.sk AS u, b.sk AS v
  FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk
), e AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
), c1 AS (
  SELECT u AS node, v AS nl, COUNT(*) AS c FROM e GROUP BY 1, 2
), l1 AS (
  SELECT node, nl AS label FROM (
    SELECT node, nl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, nl) AS rn
    FROM c1) WHERE rn = 1
), c2 AS (
  SELECT e.u AS node, l1.label AS nl, COUNT(*) AS c
  FROM e JOIN l1 ON e.v = l1.node GROUP BY 1, 2
), l2 AS (
  SELECT node, nl AS label FROM (
    SELECT node, nl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, nl) AS rn
    FROM c2) WHERE rn = 1
), deg AS (
  SELECT u AS node, COUNT(*) AS deg FROM e GROUP BY 1
), per_c AS (
  SELECT l.label AS community,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(d.deg) AS BIGINT) AS degree_sum
  FROM l2 l JOIN deg d ON l.node = d.node GROUP BY 1
), intra AS (
  SELECT lu.label AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
  FROM und
  JOIN l2 lu ON und.u = lu.node
  JOIN l2 lv ON und.v = lv.node
  WHERE lu.label = lv.label GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM und
)
SELECT p.community, p.n_members,
       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       p.degree_sum,
       CAST(CAST(4 AS DECIMAL(38,0)) * CAST(m.m_edges AS DECIMAL(38,0))
              * CAST(COALESCE(i.intra_edges, 0) AS DECIMAL(38,0))
            - CAST(p.degree_sum AS DECIMAL(38,0)) * CAST(p.degree_sum AS DECIMAL(38,0))
            AS DOUBLE)
       / CAST(CAST(4 AS DECIMAL(38,0)) * CAST(m.m_edges AS DECIMAL(38,0))
              * CAST(m.m_edges AS DECIMAL(38,0)) AS DOUBLE) AS q_contrib
FROM per_c p LEFT JOIN intra i ON p.community = i.community, m
"""
