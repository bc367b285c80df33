"""Serving-layer analytics Q1–Q9 (SURVEY.md §2.6) over derived bars.

These re-express the reference's Power BI measures
(``dashboard/securities_market_report1.jpg`` / ``report2.jpg``) as Spark
DataFrame queries with DuckDB oracles. All follow helpers.py's parity
discipline: decimal-exact sums, per-row double math, final double casts.

Scale notes (100 TB posture):
  * Q2/Q5/Q7 windows partition by symbol — shuffle keyed on symbol, ~10⁴
    distinct keys, no global ordering anywhere in the heavy path.
  * Q3 and the flagship rank use a global window ONLY after a per-symbol
    aggregation has reduced the data to one row per symbol (~10⁴ rows —
    driver-safe); never a global window over raw rows.
  * Q4 joins orders→customer on the dimension side; the dim is broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from securities_pricing_data_pipeline_spark.llmdata.sketch import (
    quantile_histogram_oracle_sql,
)
from securities_pricing_data_pipeline_spark.queries.bars import BARS_SQL, bars_df, bars_silver
from securities_pricing_data_pipeline_spark.queries.helpers import dec, load

def _tv():
    return F.col("close") * F.col("volume")  # traded value, exact decimal


def _returns(b: DataFrame) -> DataFrame:
    """Per-symbol daily return on an EXACT 1e-8 integer grid.

    The old raw double quotient (close/prev − 1) was per-row
    deterministic but its decimal SNAPS were not: a quotient landing
    within a float ulp of a snap-grid MIDPOINT rounds differently under
    Spark's string-based vs DuckDB's binary double→decimal cast
    (~1e-6 probability per value — invisible at sf0.01, but the sf0.1
    sweep hit one in q5 and one that cascaded through q13's market
    index into 229 betas). Closes are exact DECIMAL(18,4), so the
    return is an exact rational: compute round-half-away-from-zero of
    1e8·(c−p)/p in pure int64 on the cent grid (|2e8·Δ| ≤ ~2e17, units
    ≤ ~1.2e10 — double-exact), then one exact division by 1e8. Every
    engine computes identical integers, so every downstream snap sees
    the same double sitting ON a grid point, never near a midpoint."""
    w = Window.partitionBy("symbol").orderBy("trade_date")
    b2 = b.withColumn(
        "__c", (F.col("close") * 10000).cast("bigint")
    ).withColumn("__p", F.lag("__c").over(w))
    units = F.expr(
        "CASE WHEN __c < __p THEN -1 ELSE 1 END"
        " * ((200000000 * abs(__c - __p) + __p) div (2 * __p))"
    )
    return b2.withColumn("ret", units / F.lit(1e8)).drop("__c", "__p")


RET_SQL = """
, rets AS (
  SELECT symbol, trade_date,
         (CASE WHEN c < p THEN -1 ELSE 1 END
            * ((200000000 * abs(c - p) + p) // (2 * p))) / 1e8 AS ret
  FROM (
    SELECT symbol, trade_date,
           CAST(close * 10000 AS BIGINT) AS c,
           lag(CAST(close * 10000 AS BIGINT))
               OVER (PARTITION BY symbol ORDER BY trade_date) AS p
    FROM bars
  )
)
"""


def q1_market_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars_silver(spark, sf_dir)
    return b.agg(
        F.sum(_tv()).cast("double").alias("total_traded_value"),
        F.sum("volume").cast("long").alias("total_volume"),
        F.countDistinct("symbol").alias("n_symbols"),
        F.count("*").alias("n_bars"),
    )


def q2_rolling_liquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-29, 0)
    return b.select(
        "symbol",
        "trade_date",
        (F.sum("volume").over(w).cast("double") / F.count("*").over(w)).alias("avg_volume_30d"),
        (F.sum(_tv()).over(w).cast("double") / F.count("*").over(w)).alias("avg_traded_value_30d"),
    )


def q2b_rolling_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 with CALENDAR semantics: a RANGE frame over epoch-days covers the
    last 30 calendar days even when trading days are missing (the rows
    frame of q2 would silently stretch across gaps). Same one symbol-keyed
    window shuffle; the frame type changes only the in-partition scan."""
    b = bars_silver(spark, sf_dir)
    days = F.datediff(F.col("trade_date"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("symbol")
        .orderBy(days.cast("long"))
        .rangeBetween(-29, 0)
    )
    return b.select(
        "symbol",
        "trade_date",
        F.count("*").over(w).alias("n_days_present"),
        (F.sum("volume").over(w).cast("double") / F.count("*").over(w)).alias(
            "avg_volume_30cd"
        ),
        (F.sum(_tv()).over(w).cast("double") / F.count("*").over(w)).alias(
            "avg_traded_value_30cd"
        ),
    )


def _symbol_liquidity(b: DataFrame) -> DataFrame:
    return b.groupBy("symbol").agg(
        (F.sum(_tv()).cast("double") / F.count("*")).alias("avg_traded_value")
    )


def q3_liquidity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars_silver(spark, sf_dir)
    liq = _symbol_liquidity(b)
    # global window AFTER reduction to one row per symbol
    w = Window.orderBy(F.desc("avg_traded_value"))
    return liq.select(
        "symbol",
        "avg_traded_value",
        F.dense_rank().over(w).cast("int").alias("liquidity_rank"),
    )


def q4_segment_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    seg = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum(dec(F.col("o_totalprice"), 4)).alias("seg_dec"))
    )
    total = Window.partitionBy()
    return seg.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("seg_dec").cast("double").alias("total_value"),
        (F.col("seg_dec").cast("double") / F.sum("seg_dec").over(total).cast("double") * 100).alias(
            "pct_of_total"
        ),
    )


#: deterministic enrichment mappings (SURVEY §2.6 / §7): the reference's
#: dashboard filters on sector + security type
#: (``dashboard/securities_market_report1.jpg``) but no repo SQL populates
#: that dim — we seed it from stable part attributes so both engines derive
#: identical labels: sector from the manufacturer digit embedded in p_brand
#: ('Brand#MN' → M), security type from p_type's leading size token.
_SECTORS = {
    "1": "Technology",
    "2": "Financials",
    "3": "Energy",
    "4": "Healthcare",
    "5": "Industrials",
    "6": "Utilities",
    "7": "Materials",
    "8": "Consumer Staples",
    "9": "Real Estate",
}
_SECURITY_TYPES = {
    "STANDARD": "COMMON_STOCK",
    "SMALL": "PREFERRED_STOCK",
    "MEDIUM": "ETF",
    "LARGE": "ADR",
    "ECONOMY": "BOND",
    "PROMO": "REIT",
}


def security_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded sector/security-type enrichment dim: one row per symbol.

    At 100 TB this is a written dimension table keyed on symbol; it stays
    dim-sized (one row per instrument, ~10⁴–10⁶ rows) so fact joins against
    it broadcast.
    """
    p = load(spark, sf_dir, "part")
    mfgr_digit = F.substring("p_brand", 7, 1)
    type_head = F.split("p_type", " ").getItem(0)
    sector = F.lit(None).cast("string")
    for digit, name in _SECTORS.items():
        sector = F.when(mfgr_digit == digit, name).otherwise(sector)
    sectype = F.lit(None).cast("string")
    for token, name in _SECURITY_TYPES.items():
        sectype = F.when(type_head == token, name).otherwise(sectype)
    return p.select(
        F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("symbol"),
        sector.alias("sector"),
        sectype.alias("security_type"),
    )


# shared CTE for oracles joining the enrichment dim
DIM_SQL = """
, dim AS (
  SELECT 'P' || CAST(p_partkey AS VARCHAR) AS symbol,
         CASE substr(p_brand, 7, 1)
           WHEN '1' THEN 'Technology' WHEN '2' THEN 'Financials'
           WHEN '3' THEN 'Energy' WHEN '4' THEN 'Healthcare'
           WHEN '5' THEN 'Industrials' WHEN '6' THEN 'Utilities'
           WHEN '7' THEN 'Materials' WHEN '8' THEN 'Consumer Staples'
           WHEN '9' THEN 'Real Estate' END AS sector,
         CASE split_part(p_type, ' ', 1)
           WHEN 'STANDARD' THEN 'COMMON_STOCK' WHEN 'SMALL' THEN 'PREFERRED_STOCK'
           WHEN 'MEDIUM' THEN 'ETF' WHEN 'LARGE' THEN 'ADR'
           WHEN 'ECONOMY' THEN 'BOND' WHEN 'PROMO' THEN 'REIT' END AS security_type
  FROM part
)
"""


def q4b_sector_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 in the dashboard's real shape: traded-value contribution % by
    enriched sector (bars ⋈ security dim), not the c_mktsegment proxy.

    Plan: bars already reduced to symbol-day grain; the dim join broadcasts
    (dim is one row per symbol). One hash aggregate on sector (5 groups),
    then a single-partition total over 5 rows — driver-safe at any scale.
    """
    b = bars_silver(spark, sf_dir)
    dim = security_dim(spark, sf_dir)
    agg = (
        b.join(F.broadcast(dim), "symbol")
        .groupBy("sector")
        .agg(
            F.sum(_tv()).alias("tv_dec"),
            F.countDistinct("symbol").alias("n_symbols"),
        )
    )
    total = Window.partitionBy()
    return agg.select(
        "sector",
        F.col("tv_dec").cast("double").alias("total_traded_value"),
        (
            F.col("tv_dec").cast("double")
            / F.sum("tv_dec").over(total).cast("double")
            * 100
        ).alias("pct_of_total"),
        "n_symbols",
    )


def q5_daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _returns(bars_silver(spark, sf_dir)).filter(F.col("ret").isNotNull())
    return b.groupBy("trade_date").agg(
        (F.sum(dec(F.col("ret"), 10)).cast("double") / F.count("ret")).alias("avg_return"),
        F.count("ret").alias("n_symbols"),
    )


def q6_top_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars_silver(spark, sf_dir)
    return (
        b.orderBy(F.desc("volume"), "symbol", "trade_date")
        .limit(20)
        .select("symbol", "trade_date", "volume", F.col("close").cast("double").alias("close"))
    )


def q7_volatility_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _returns(bars_silver(spark, sf_dir)).filter(F.col("ret").isNotNull())
    # ret² snaps via FLOOR (no midpoints — q13's discipline): the
    # 1e-8-grid ret makes ret² able to land exactly on a decimal-cast
    # midpoint (ret = 5e-5 → ret² = 2.5e-9), where the engines' casts
    # can disagree
    agg = b.groupBy("symbol").agg(
        F.count("ret").alias("n_days"),
        F.sum(dec(F.col("ret"), 10)).cast("double").alias("s1"),
        (F.sum(F.floor(F.col("ret") * F.col("ret") * F.lit(1e9))) / F.lit(1e9)).alias("s2"),
    )
    n = F.col("n_days")
    var = F.greatest((F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1), F.lit(0.0))
    return (
        agg.filter(n >= 10)
        .select("symbol", "n_days", F.sqrt(var).alias("volatility"))
        .orderBy(F.desc("volatility"), "symbol")
        .limit(10)
    )


def q8_ohlc_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    # partkey pushdown instead of a post-agg symbol filter: the scan reads
    # only row groups whose l_partkey stats overlap 7
    b = bars_df(spark, sf_dir, partkeys=[7])
    return b.select(
        "symbol",
        "trade_date",
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        "volume",
    )


def q9_price_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars_silver(spark, sf_dir)
    return b.agg(
        (F.sum(F.col("close")).cast("double") / F.count("*")).alias("avg_close"),
        (F.sum(F.col("open")).cast("double") / F.count("*")).alias("avg_open"),
    )


def q10_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score outliers: days where close deviates >2.2σ from its
    own 30-day window. Sums of DECIMAL(18,4) closes (and their exact
    decimal squares) stay order-independent; mean/variance/sqrt then run
    in double on identical operands in both engines, so even the threshold
    boundary decisions match bit-for-bit. One symbol-keyed window shuffle,
    same shape as Q2/Q7."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-29, 0)
    c = F.col("close").cast("double")
    sx = F.sum("close").over(w).cast("double")
    # rescale each exact decimal square 8→4 digits before summing: the
    # windowed sum then stays under 2^53 integer units, so the final
    # decimal→double cast is exact (and identical) in both engines
    sx2 = F.sum(dec(F.col("close") * F.col("close"), 4)).over(w).cast("double")
    n = F.count("close").over(w).cast("double")
    stats = b.select(
        "symbol", "trade_date", c.alias("close_d"), sx.alias("sx"), sx2.alias("sx2"), n.alias("n")
    )
    var = (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("close_d") - F.col("sx") / F.col("n")) / F.sqrt(var)
    return (
        stats.filter(F.col("n") >= 20)
        .withColumn("_var", var)
        .filter(F.col("_var") > 1e-12)
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2.2)
        .select("symbol", "trade_date", F.col("close_d").alias("close"), "zscore")
    )


def q11_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per symbol over the period — the
    canonical execution-quality benchmark. One hash aggregate on symbol
    (map-side combine does the heavy lifting); both sums are exact
    decimals so the double division is bit-identical cross-engine."""
    b = bars_silver(spark, sf_dir)
    return b.groupBy("symbol").agg(
        (F.sum(_tv()).cast("double") / F.sum("volume").cast("double")).alias("vwap"),
        F.sum("volume").cast("long").alias("total_volume"),
    )


def q12_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum peak-to-trough drawdown per symbol: running close peak
    (unbounded-preceding window) then the worst (peak−close)/peak. One
    symbol-keyed window shuffle + per-symbol max — same shape as Q2/Q7.
    Peak is an exact decimal MAX, so the double ratio matches DuckDB."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(
        Window.unboundedPreceding, 0
    )
    peak = F.max("close").over(w).cast("double")
    dd = (peak - F.col("close").cast("double")) / peak
    return (
        b.select("symbol", dd.alias("dd"))
        .groupBy("symbol")
        .agg(F.max("dd").alias("max_drawdown"))
    )


def q13_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol beta against the equal-weight market AGGREGATE return
    (the cross-sectional sum of that day's returns): cov(r, M)/var(M) over
    each symbol's trading days.

    The index is the per-day SUM — not the mean — deliberately: the sum of
    scale-10 decimals is exact, whereas a mean (decimal ÷ day-count) lands
    exactly on snap-grid midpoints whenever the count divides a half-unit,
    where Spark's string-based and DuckDB's binary double→decimal
    roundings disagree (observed: 1-ulp sm drift amplified ~500× by the
    variance cancellation).

    Moment plumbing follows the helpers.py unit-budget rule: the index
    M (DECIMAL(18,10), ≤14 significant digits) converts to double
    EXACTLY; the r·M and M² products are per-row doubles snapped at
    scales 8/6 via FLOOR of the exactly-computed double — not a decimal
    cast. Since round 8 the returns themselves are 1e-8-grid rationals
    (see ``_returns``), so their products CAN land exactly on decimal
    midpoints where Spark's string-based and DuckDB's binary casts
    disagree (observed: one srm collision at sf0.1); floor has no
    midpoints, so it is cast-ambiguity-free while keeping every moment
    sum ≲1e12 exact grid units.

    Plan: the per-day index is a tiny aggregate (one row per day)
    broadcast back onto the per-symbol return stream; moment sums combine
    map-side. No global window anywhere.
    """
    r = _returns(bars_silver(spark, sf_dir)).filter(F.col("ret").isNotNull())
    mkt = r.groupBy("trade_date").agg(
        F.sum(dec(F.col("ret"), 10)).cast("decimal(18,10)").alias("mkt_ret")
    )
    j = r.join(F.broadcast(mkt), "trade_date")
    md = F.col("mkt_ret").cast("double")  # exact: ≤14 significant digits
    # product moments snap via FLOOR of the exactly-computed double (the
    # dimsum discipline): ret is now a 1e-8-grid rational, so ret·md CAN
    # land exactly on a decimal-cast midpoint (observed once at sf0.1 —
    # 1-ulp srm drift); floor has no midpoints, so it is cast-ambiguity
    # free in both engines
    agg = j.groupBy("symbol").agg(
        F.count("*").alias("n_days"),
        F.sum(dec(F.col("ret"), 10)).cast("double").alias("sr"),
        F.sum(F.col("mkt_ret")).cast("double").alias("sm"),
        (F.sum(F.floor(F.col("ret") * md * F.lit(1e8))) / F.lit(1e8)).alias("srm"),
        (F.sum(F.floor(md * md * F.lit(1e6))) / F.lit(1e6)).alias("smm"),
    )
    n = F.col("n_days")
    den = F.col("smm") - F.col("sm") * F.col("sm") / n
    beta = (F.col("srm") - F.col("sr") * F.col("sm") / n) / F.nullif(den, F.lit(0.0))
    return agg.filter(n >= 10).select("symbol", "n_days", beta.alias("beta"))


def q15_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI (simple-moving-average variant): per symbol-day,
    100·ΣGain/(ΣGain+ΣLoss) over the trailing 14 closes-deltas.

    Price deltas, gains, and losses stay EXACT decimals end-to-end (close
    is DECIMAL(18,4); lag/subtract/greatest/window-sum are all
    decimal-exact). The final ratio is defined as an exact integer floor
    division at 1e-8 resolution — decimal→double casts round differently
    by one ulp across engines, so the query semantic itself is the scaled
    integer quotient. One symbol-keyed window shuffle; the two stacked
    windows (lag + rolling sums) share it.
    """
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    w14 = w.rowsBetween(-13, 0)
    delta = F.col("close") - F.lag("close").over(w)
    zero = F.lit(0).cast("decimal(18,4)")
    d = (
        b.select("symbol", "trade_date", delta.alias("delta"))
        .filter(F.col("delta").isNotNull())
        .select(
            "symbol",
            "trade_date",
            F.greatest("delta", zero).alias("gain"),
            F.greatest(-F.col("delta"), zero).alias("loss"),
        )
    )
    out = d.select(
        "symbol",
        "trade_date",
        F.count("*").over(w14).alias("n_obs"),
        F.sum("gain").over(w14).alias("sg"),
        F.sum("loss").over(w14).alias("sl"),
    )
    # sg/sl have scale 4, so sg*10000 is an exact integer; RSI is then the
    # exact bigint quotient (100e8·g) DIV (g+l), re-scaled to double.
    scaled = (
        out.filter(F.col("n_obs") >= 14)
        .select(
            "symbol",
            "trade_date",
            (F.col("sg") * 10000).cast("long").alias("g_units"),
            ((F.col("sg") + F.col("sl")) * 10000).cast("long").alias("d_units"),
        )
        .filter(F.col("d_units") > 0)
    )
    rsi = F.expr("CAST(100000000 AS BIGINT) * g_units DIV d_units").cast(
        "double"
    ) / F.lit(1000000.0)
    return scaled.select("symbol", "trade_date", rsi.alias("rsi_14"))


#: EWMA(span=10) over a 30-row trailing window, with the geometric decay
#: weights QUANTIZED to exact 1e-6-unit int64 literals computed once here
#: and embedded verbatim in BOTH engines' expressions — the pow() libms
#: need never agree. _EWMA_DEN[m-1] pre-sums the first m weights so the
#: denominator for a short leading window is also an exact literal.
_EWMA_SPAN = 10
_EWMA_WIN = 30
_EWMA_R = 1.0 - 2.0 / (_EWMA_SPAN + 1)
_EWMA_W = [round((_EWMA_R**k) * 1_000_000) for k in range(_EWMA_WIN)]
_EWMA_DEN = [sum(_EWMA_W[: m + 1]) for m in range(_EWMA_WIN)]


def q19_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of close (span 10, 30-row
    trailing window, adaptive leading edge) — the classic smoothing
    companion to the SMA/RSI family.

    Exactness (q15's integer-units discipline): close is DECIMAL(18,4) →
    ×10000 is an exact int64; decay weights are exact 1e-6-unit int64
    LITERALS (see _EWMA_W); the weighted numerator is therefore a pure
    int64 dot product (≤ 30 · 1e9 · 1e6 = 3e16, overflow-safe), the
    denominator an exact literal, and the single final int/int → double
    division is the only float op — bit-identical across engines with no
    decimal-snap needed. Semantics: EWMA with weights quantized at 1e-6.

    Plan: one symbol-keyed window shuffle; the dot product is a 30-term
    lag chain inside one Window operator (see ``_ewma_lag_terms`` — pure
    codegen, ~3× the collect_list/HOF formulation it replaced)."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    cu = (F.col("close") * 10000).cast("long")
    num, den = _ewma_lag_terms(cu, w, _EWMA_W, _EWMA_DEN)
    ewma = num.cast("double") / (den * F.lit(10000).cast("long")).cast("double")
    return b.select("symbol", "trade_date", ewma.alias("ewma_10"))


def q20_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands: 20-row SMA of close ± 2 rolling population
    standard deviations.

    Exactness (q16's moments discipline): close carries 2 decimal digits
    → ×100 is an exact int64; the window keeps (n, Σy, Σy²) as exact
    integers (y² ≤ 1e14, ×20 ≈ 2e15 — overflow-safe), so
    n·Σy² − (Σy)² is bit-identical in both engines. mean, sd, and the
    bands are then a fixed sequence of double ops (one sqrt) on
    identical integers — deterministic, no decimal-snap needed."""
    b = bars_silver(spark, sf_dir)
    w20 = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-19, 0)
    y = (F.col("close") * 100).cast("long")
    agg = b.select(
        "symbol",
        "trade_date",
        F.count("*").over(w20).alias("n_obs"),
        F.sum(y).over(w20).alias("sy"),
        F.sum(y * y).over(w20).alias("syy"),
    ).filter(F.col("n_obs") >= 20)
    n = F.col("n_obs")
    mean = F.col("sy").cast("double") / (n * 100).cast("double")
    sd = F.sqrt((n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")) / (
        n * 100
    ).cast("double")
    return agg.select(
        "symbol",
        "trade_date",
        mean.alias("sma_20"),
        (mean + 2 * sd).alias("upper_band"),
        (mean - 2 * sd).alias("lower_band"),
    )


def q21_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator: %K = 100·(close − min low)/(max high −
    min low) over 14 rows; %D = 3-row average of %K.

    Exactness (q15's quotient discipline): highs/lows/closes are exact
    scale-4 decimals → ×10000 int64; %K is DEFINED as the exact integer
    quotient (1e8·num) DIV den rescaled to double, and %D as the exact
    integer mean (Σ₃ quotients) DIV 3 — so both engines never disagree
    by a float ulp."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    w14 = w.rowsBetween(-13, 0)
    cu = (F.col("close") * 10000).cast("long")
    hi = (F.col("high") * 10000).cast("long")
    lo = (F.col("low") * 10000).cast("long")
    r = b.select(
        "symbol",
        "trade_date",
        F.count("*").over(w14).alias("n_obs"),
        cu.alias("cu"),
        F.max(hi).over(w14).alias("hh"),
        F.min(lo).over(w14).alias("ll"),
    ).filter((F.col("n_obs") >= 14) & (F.col("hh") > F.col("ll")))
    kq = F.expr("CAST(100000000 AS BIGINT) * (cu - ll) DIV (hh - ll)")
    r2 = r.select("symbol", "trade_date", kq.alias("kq"))
    w3 = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-2, 0)
    r3 = r2.select(
        "symbol",
        "trade_date",
        F.col("kq"),
        F.count("*").over(w3).alias("n3"),
        F.sum("kq").over(w3).alias("skq"),
    ).filter(F.col("n3") >= 3)
    return r3.select(
        "symbol",
        "trade_date",
        (F.col("kq").cast("double") / 1000000.0).alias("pct_k"),
        (F.expr("skq DIV 3").cast("double") / 1000000.0).alias("pct_d"),
    )


def q22_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-row average true range: TR = max(high−low, |high−prev close|,
    |low−prev close|), ATR = mean of the trailing 14 TRs.

    Exactness: all inputs are scale-4 decimals, so TR and its window sum
    are exact; the mean is DEFINED as the exact integer milli-quotient
    (1000·Σtr_units) DIV n rescaled to double — sidestepping the
    decimal→double cast ulp divergence the RSI docstring documents."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    w14 = w.rowsBetween(-13, 0)
    # drop the first row on the LAG being null, not on TR: Spark's
    # greatest() ignores NULL args (TR would silently degrade to
    # high−low on day 1) while DuckDB's doesn't — filtering the lag
    # itself keeps both engines on the same row set
    pc = F.lag("close").over(w)
    d = (
        b.select("symbol", "trade_date", "high", "low", pc.alias("pc"))
        .filter(F.col("pc").isNotNull())
        .select(
            "symbol",
            "trade_date",
            F.greatest(
                F.col("high") - F.col("low"),
                F.abs(F.col("high") - F.col("pc")),
                F.abs(F.col("low") - F.col("pc")),
            ).alias("tr"),
        )
    )
    r = d.select(
        "symbol",
        "trade_date",
        F.count("*").over(w14).alias("n_obs"),
        (F.sum("tr").over(w14) * 10000).cast("long").alias("str_units"),
    ).filter(F.col("n_obs") >= 14)
    atr = F.expr("(CAST(1000 AS BIGINT) * str_units) DIV n_obs").cast("double") / F.lit(
        10000000.0
    )
    return r.select("symbol", "trade_date", atr.alias("atr_14"))


def q23_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume: running Σ sign(Δclose)·volume per symbol —
    pure integer arithmetic end to end (volume is BIGINT, sign ∈
    {−1,0,1}), so the cumulative window is exact in both engines."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    delta = F.col("close") - F.lag("close").over(w)
    signed = (
        F.when(delta > 0, F.col("volume"))
        .when(delta < 0, -F.col("volume"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    d = b.select("symbol", "trade_date", signed.alias("sv"))
    return d.select(
        "symbol", "trade_date", F.sum("sv").over(wcum).cast("long").alias("obv")
    )


#: MACD: EWMA(12) − EWMA(26) of close, then a span-9 signal line over the
#: MACD series re-quantized to 1e-4 price units. Same literal-weight
#: discipline as q19 (three weight tables, windows of 30 rows).
_MACD_W12 = [round(((1.0 - 2.0 / 13.0) ** k) * 1_000_000) for k in range(_EWMA_WIN)]
_MACD_W26 = [round(((1.0 - 2.0 / 27.0) ** k) * 1_000_000) for k in range(_EWMA_WIN)]
_MACD_W9 = [round(((1.0 - 2.0 / 10.0) ** k) * 1_000_000) for k in range(_EWMA_WIN)]
_MACD_D12 = [sum(_MACD_W12[: m + 1]) for m in range(_EWMA_WIN)]
_MACD_D26 = [sum(_MACD_W26[: m + 1]) for m in range(_EWMA_WIN)]
_MACD_D9 = [sum(_MACD_W9[: m + 1]) for m in range(_EWMA_WIN)]


def _ewma_lag_terms(
    cu: Column, w: Window, weights: list[int], dens: list[int]
) -> tuple[Column, Column]:
    """Exact-integer EWMA numerator/denominator as a ``len(weights)``-term
    LAG dot product: num = Σ wᵢ·c₍ₜ₋ᵢ₎ (missing rows contribute 0 — the
    same truncated-window semantics as slicing a reversed collect_list),
    den = Σ of the first min(row_number, n) weights via one literal-array
    element_at. Every term is a codegen'd long multiply-add inside ONE
    Window operator (all expressions share the window spec) — no arrays,
    no interpreted higher-order functions, which makes this ~3× faster
    than the collect_list/zip_with formulation it replaced (HOF lambdas
    are interpreted at ~100 ns/element). Values are bit-identical: int64
    addition is exact and commutative, so term order can't matter."""
    num = None
    for k, wt in enumerate(weights):
        c = cu if k == 0 else F.lag(cu, k).over(w)
        term = F.coalesce(c, F.lit(0).cast("long")) * F.lit(wt).cast("long")
        num = term if num is None else num + term
    m = F.least(F.row_number().over(w), F.lit(len(weights)))
    den = F.element_at(F.array(*[F.lit(d).cast("long") for d in dens]), m)
    return num, den


def q24_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (12, 26, 9) over 30-row windows: macd = EWMA₁₂ − EWMA₂₆ of
    close; signal = EWMA₉ of the macd series; histogram = macd − signal.

    Exactness: the two close EWMAs use q19's integer-literal weights, so
    macd is a difference of two deterministic doubles; the macd value is
    then RE-QUANTIZED to exact 1e-4 price units (round() of the same
    double value is away-from-zero in both engines) and the signal line
    is another exact-integer EWMA over those units. Every cross-engine
    comparison point is an integer or a deterministic double chain.

    Plan: stage 1 MATERIALIZES the 30 lagged closes once as columns and
    reuses them for both the 12- and 26-span dot products — inlining two
    separate 30-term lag chains doubles the window expression count and
    measured 2× slower; the shared-lag shape runs 1.5× faster than even
    the original collect_list formulation. Stage 2 is one more lag
    window over the requantized macd.

    r14: the SAME expression tree is now assembled as ONE SQL string per
    output column (``selectExpr``) instead of ~700 py4j Column calls —
    DataFrame construction alone measured 1.4-1.8 s of driver time at 3
    jobs total (guide §1.1 empirical loop; ``tests/test_ewma.py::
    test_q24_sql_form_matches_column_form`` pins the two forms equal
    row-for-row)."""
    b = bars_silver(spark, sf_dir)
    over = "PARTITION BY symbol ORDER BY trade_date"

    def lag_frame(src: DataFrame, col_sql: str, keep: list[str]) -> DataFrame:
        cols = [
            f"COALESCE({f'lag({col_sql}, {k}) OVER ({over})' if k else col_sql}, "
            f"CAST(0 AS BIGINT)) AS _c{k}"
            for k in range(_EWMA_WIN)
        ]
        m = f"least(row_number() OVER ({over}), {_EWMA_WIN}) AS _m"
        return src.selectExpr(*keep, m, *cols)

    def dot(weights: list[int], dens: list[int]) -> str:
        num = " + ".join(f"_c{k} * {wt}L" for k, wt in enumerate(weights))
        arr = ", ".join(f"{d}L" for d in dens)
        den = f"element_at(array({arr}), _m)"
        return f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"

    stage1 = lag_frame(b, "CAST(close * 10000 AS BIGINT)", ["symbol", "trade_date"]).selectExpr(
        "symbol",
        "trade_date",
        f"({dot(_MACD_W12, _MACD_D12)} - {dot(_MACD_W26, _MACD_D26)}) / 10000.0D AS macd",
    )
    stage2 = lag_frame(
        stage1, "CAST(round(macd * 10000) AS BIGINT)", ["symbol", "trade_date", "macd"]
    ).selectExpr(
        "symbol",
        "trade_date",
        "macd",
        f"{dot(_MACD_W9, _MACD_D9)} / 10000.0D AS signal",
    )
    return stage2.selectExpr(
        "symbol",
        "trade_date",
        "macd",
        "signal",
        "macd - signal AS histogram",
    )


def q25_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channels: 20-row rolling max high / min low, midline =
    their mean. Exactness: highs/lows are scale-4 decimals → ×10000 exact
    int64; MAX/MIN are exact; each output is one int→double cast (exact
    ≤ 2^53) and one division — a single correct rounding per value in
    both engines."""
    b = bars_silver(spark, sf_dir)
    w20 = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-19, 0)
    hi = (F.col("high") * 10000).cast("long")
    lo = (F.col("low") * 10000).cast("long")
    r = b.select(
        "symbol",
        "trade_date",
        F.count("*").over(w20).alias("n_obs"),
        F.max(hi).over(w20).alias("hh"),
        F.min(lo).over(w20).alias("ll"),
    ).filter(F.col("n_obs") >= 20)
    return r.select(
        "symbol",
        "trade_date",
        (F.col("hh").cast("double") / 10000.0).alias("upper_ch"),
        (F.col("ll").cast("double") / 10000.0).alias("lower_ch"),
        ((F.col("hh") + F.col("ll")).cast("double") / 20000.0).alias("mid_ch"),
    )


def q26_williams_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R: −100·(max high − close)/(max high − min low) over 14
    rows — the stochastic %K's mirror. Exactness (q21's quotient
    discipline): defined as the exact integer quotient (1e8·(hh−cu)) DIV
    (hh−ll) rescaled to double; hh ≥ cu by bars construction (close is a
    member of the high's max set), so the numerator is non-negative and
    truncating division agrees across engines regardless."""
    b = bars_silver(spark, sf_dir)
    w14 = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-13, 0)
    cu = (F.col("close") * 10000).cast("long")
    hi = (F.col("high") * 10000).cast("long")
    lo = (F.col("low") * 10000).cast("long")
    r = b.select(
        "symbol",
        "trade_date",
        F.count("*").over(w14).alias("n_obs"),
        cu.alias("cu"),
        F.max(hi).over(w14).alias("hh"),
        F.min(lo).over(w14).alias("ll"),
    ).filter((F.col("n_obs") >= 14) & (F.col("hh") > F.col("ll")))
    rq = F.expr("CAST(100000000 AS BIGINT) * (hh - cu) DIV (hh - ll)")
    return r.select(
        "symbol",
        "trade_date",
        (-(rq.cast("double")) / 1000000.0).alias("pct_r"),
    )


def q27_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-row rate of change: 100·(close/close₋₁₂ − 1). Exactness: both
    closes are exact ×10000 int64 units; the ratio is DEFINED as the
    exact integer quotient (1e8·cu) DIV pu (cu, pu > 0 → non-negative),
    and roc = (quotient − 1e8)/1e6 — one int subtract and one double
    divide, bit-identical across engines."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    cu = (F.col("close") * 10000).cast("long")
    pu = F.lag(cu, 12).over(w)
    r = b.select("symbol", "trade_date", cu.alias("cu"), pu.alias("pu")).filter(
        F.col("pu").isNotNull() & (F.col("pu") > 0)
    )
    q = F.expr("CAST(100000000 AS BIGINT) * cu DIV pu")
    return r.select(
        "symbol",
        "trade_date",
        ((q - F.lit(100000000).cast("long")).cast("double") / 1000000.0).alias(
            "roc_12"
        ),
    )


#: Keltner channel EMA(20) weights — q19's literal-quantization discipline
_KELT_W = [round(((1.0 - 2.0 / 21.0) ** k) * 1_000_000) for k in range(_EWMA_WIN)]
_KELT_DEN = [sum(_KELT_W[: m + 1]) for m in range(_EWMA_WIN)]


def q28_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels: EMA(20) of close ± 2·ATR(10). Exactness: the EMA
    rides q19's integer-literal weight path (exact int64 dot product, one
    double divide); the ATR is q22's exact integer milli-quotient with a
    10-row window; upper/lower are then sums of two deterministic doubles
    — deterministic in both engines.

    Plan: ONE pass — TR is carried as a nullable column (null on each
    symbol's first row) in the same frame as the EMA lag chain, with
    COUNT(tr)/SUM(tr) window aggregates skipping the null, which is
    row-for-row identical to materializing the lag-dropped TR frame and
    joining it back (the join formulation measured 5 exchanges; this one
    shares a single symbol-keyed window shuffle)."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    w10 = w.rowsBetween(-9, 0)
    cu = (F.col("close") * 10000).cast("long")
    pc = F.lag("close").over(w)
    tr = F.when(
        pc.isNotNull(),
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        ),
    )
    num, den = _ewma_lag_terms(cu, w, _KELT_W, _KELT_DEN)
    d = b.select(
        "symbol",
        "trade_date",
        (num.cast("double") / den.cast("double") / F.lit(10000.0)).alias("ema20"),
        F.count(tr).over(w10).alias("n_obs"),
        (F.sum(tr).over(w10) * 10000).cast("long").alias("str_units"),
    )
    atr = F.expr("(CAST(1000 AS BIGINT) * str_units) DIV n_obs").cast(
        "double"
    ) / F.lit(10000000.0)
    return d.filter(F.col("n_obs") >= 10).select(
        "symbol",
        "trade_date",
        F.col("ema20").alias("mid_line"),
        (F.col("ema20") + 2 * atr).alias("upper_ch"),
        (F.col("ema20") - 2 * atr).alias("lower_ch"),
    )


def q29_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot points from the PREVIOUS bar's
    high/low/close: P = (H+L+C)/3, R1 = 2P−L, S1 = 2P−H, R2 = P+(H−L),
    S2 = P−(H−L). Exactness: H/L/C are exact ×10000 int64; P is one
    int→double cast and one divide; every other level is a fixed chain
    of double ±/× on deterministic inputs — identical in both engines."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    hu = F.lag((F.col("high") * 10000).cast("long")).over(w)
    lu = F.lag((F.col("low") * 10000).cast("long")).over(w)
    cu = F.lag((F.col("close") * 10000).cast("long")).over(w)
    r = b.select(
        "symbol", "trade_date", hu.alias("hu"), lu.alias("lu"), cu.alias("cu")
    ).filter(F.col("hu").isNotNull())
    p = (F.col("hu") + F.col("lu") + F.col("cu")).cast("double") / 30000.0
    h = F.col("hu").cast("double") / 10000.0
    low = F.col("lu").cast("double") / 10000.0
    return r.select(
        "symbol",
        "trade_date",
        p.alias("pivot"),
        (2 * p - low).alias("r1"),
        (2 * p - h).alias("s1"),
        (p + (h - low)).alias("r2"),
        (p - (h - low)).alias("s2"),
    )


def q30_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio per symbol (rf = 0), WINSORIZED: daily
    returns in exact basis-point units rq = (1e4·cu) DIV pu − 1e4,
    clamped to ±50000 bp (±500%) — the robust-Sharpe variant desks
    apply to de-fang data-error gaps, and exactly what keeps EVERY
    moment inside int64 (rq² ≤ 2.5e9, so n·Σrq² stays exact for series
    up to ~60k days). mean/sd collapses to Σrq/√(n·Σrq²−(Σrq)²) — one
    sqrt and one divide on exactly-agreed int64 values, times the
    literal √252. (A DECIMAL(38,0) formulation is NOT parity-safe:
    DuckDB's wide-decimal→double cast lands 1 ulp off the correctly
    rounded value — measured on this data — while int64→double casts
    are exact ground both engines share.)

    Plan: one symbol-window pass for the lag, one hash aggregate to 3
    moments per symbol — map-side partials, no second pass."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    cu = (F.col("close") * 10000).cast("long")
    pu = F.lag(cu).over(w)
    r = b.select("symbol", cu.alias("cu"), pu.alias("pu")).filter(
        F.col("pu").isNotNull() & (F.col("pu") > 0)
    )
    rq = F.expr(
        "greatest(CAST(-50000 AS BIGINT), least(CAST(50000 AS BIGINT), "
        "CAST(10000 AS BIGINT) * cu DIV pu - CAST(10000 AS BIGINT)))"
    )
    agg = (
        r.select("symbol", rq.alias("rq"))
        .groupBy("symbol")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("rq").alias("s1"),
            F.sum(F.col("rq") * F.col("rq")).alias("s2"),
        )
        .filter(F.col("n_days") >= 30)
    )
    d = F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")
    sharpe = (
        F.col("s1").cast("double") / F.sqrt(d.cast("double")) * F.sqrt(F.lit(252.0))
    )
    return agg.select(
        "symbol",
        "n_days",
        (F.col("s1").cast("double") / F.col("n_days") / 100.0).alias("mean_ret_pct"),
        sharpe.alias("ann_sharpe"),
    )


def q34_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sortino ratio per symbol (rf = MAR = 0): mean daily
    return / DOWNSIDE deviation × √252 — q30's Sharpe with the
    denominator restricted to loss days, the risk metric desks quote
    when upside volatility shouldn't count against a strategy. Same
    winsorized basis-point int64 discipline: downside moments are exact
    (Σ min(rq,0)² ≤ n·2.5e9), the ratio is
    (Σrq/n) / √(Σd²/n) = Σrq / √(n·Σd²) — one sqrt, one divide, times
    the literal √252."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    cu = (F.col("close") * 10000).cast("long")
    pu = F.lag(cu).over(w)
    r = b.select("symbol", cu.alias("cu"), pu.alias("pu")).filter(
        F.col("pu").isNotNull() & (F.col("pu") > 0)
    )
    rq = F.expr(
        "greatest(CAST(-50000 AS BIGINT), least(CAST(50000 AS BIGINT), "
        "CAST(10000 AS BIGINT) * cu DIV pu - CAST(10000 AS BIGINT)))"
    )
    dn = F.least(rq, F.lit(0).cast("long"))
    agg = (
        r.select("symbol", rq.alias("rq"), dn.alias("dn"))
        .groupBy("symbol")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("rq").alias("s1"),
            F.sum(F.col("dn") * F.col("dn")).alias("sd2"),
            F.count(F.when(F.col("dn") < 0, 1)).alias("n_down"),
        )
        .filter((F.col("n_days") >= 30) & (F.col("sd2") > 0))
    )
    sortino = (
        F.col("s1").cast("double")
        / F.sqrt((F.col("n_days") * F.col("sd2")).cast("double"))
        * F.sqrt(F.lit(252.0))
    )
    return agg.select("symbol", "n_days", "n_down", sortino.alias("ann_sortino"))


def q31_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 5% value-at-risk and expected shortfall per symbol:
    VaR = the k-th smallest daily return with k = 1 + (n−1)·5 DIV 100
    (the lower empirical quantile — EXACT RANK SELECTION, no
    interpolation, so there is no float quantile formula for the engines
    to disagree on), ES = the mean of the k worst returns as the exact
    integer milli-quotient. Returns ride q27's integer-quotient units
    (ties broken by trade date so both engines rank identically).

    Plan: one symbol-window for the lag, one ranking window, one
    aggregate — all shuffles on the symbol key. At 100 TB the ranking
    window only orders within symbol (bounded series length), never
    globally."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    cu = (F.col("close") * 10000).cast("long")
    pu = F.lag(cu).over(w)
    r = b.select("symbol", "trade_date", cu.alias("cu"), pu.alias("pu")).filter(
        F.col("pu").isNotNull() & (F.col("pu") > 0)
    )
    rq = F.expr("CAST(100000000 AS BIGINT) * cu DIV pu - CAST(100000000 AS BIGINT)")
    wr = Window.partitionBy("symbol").orderBy("rq", "trade_date")
    wn = Window.partitionBy("symbol")
    ranked = r.select("symbol", "trade_date", rq.alias("rq")).select(
        "symbol",
        "rq",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_days"),
    )
    ksel = F.expr("1 + (n_days - 1) * 5 DIV 100")
    worst = ranked.filter(F.col("rn") <= ksel)
    agg = worst.groupBy("symbol").agg(
        F.max("n_days").alias("n_days"),
        F.count("*").alias("k"),
        F.max(F.when(F.col("rn") == ksel, F.col("rq"))).alias("var_units"),
        F.sum("rq").alias("sum_worst"),
    )
    return agg.filter(F.col("n_days") >= 30).select(
        "symbol",
        "n_days",
        (F.col("var_units").cast("double") / 1000000.0).alias("var5_pct"),
        (
            F.expr("(CAST(1000 AS BIGINT) * sum_worst) DIV k").cast("double")
            / 1000000000.0
        ).alias("es5_pct"),
    )


def q32_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index per symbol: mean close per calendar
    month / overall mean close. Exactness: both means are DEFINED as
    exact integer milli-quotients ((1000·Σcu) DIV n — q22's discipline),
    so the index is one double/double division of two deterministic
    values. Plan: two hash aggregates (symbol×month, then symbol — the
    second reuses the first's partials by summing them) and a broadcast
    join of the symbol-level means back onto the 12-row-per-symbol
    month frame."""
    b = bars_silver(spark, sf_dir)
    cu = (F.col("close") * 10000).cast("long")
    mon = b.select(
        "symbol", F.month("trade_date").alias("month"), cu.alias("cu")
    ).groupBy("symbol", "month").agg(
        F.count("*").alias("n_days"), F.sum("cu").alias("scu")
    )
    tot = mon.groupBy("symbol").agg(
        F.sum("n_days").alias("tn"), F.sum("scu").alias("ts")
    )
    mq = F.expr("(CAST(1000 AS BIGINT) * scu) DIV n_days")
    tq = F.expr("(CAST(1000 AS BIGINT) * ts) DIV tn")
    j = mon.join(F.broadcast(tot), "symbol")
    return j.select(
        "symbol",
        "month",
        "n_days",
        (mq.cast("double") / 10000000.0).alias("month_avg"),
        (mq.cast("double") / tq.cast("double")).alias("season_index"),
    )


def q33_market_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market breadth per trading day: advancing / declining / unchanged
    symbol counts and the advance share of movers. Exactness: the
    advance/decline classification compares exact int64 close units via
    lag; breadth is the exact integer quotient (1e6·n_adv) DIV
    (n_adv+n_dec) rescaled to percent. Plan: one symbol-window pass for
    the lag (shuffle on symbol), then a date-keyed hash aggregate —
    the cross-sectional pivot every market dashboard needs."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    cu = (F.col("close") * 10000).cast("long")
    pu = F.lag(cu).over(w)
    d = b.select("symbol", "trade_date", cu.alias("cu"), pu.alias("pu")).filter(
        F.col("pu").isNotNull()
    )
    agg = d.groupBy("trade_date").agg(
        F.count(F.when(F.col("cu") > F.col("pu"), 1)).alias("n_adv"),
        F.count(F.when(F.col("cu") < F.col("pu"), 1)).alias("n_dec"),
        F.count(F.when(F.col("cu") == F.col("pu"), 1)).alias("n_unch"),
    )
    return agg.filter((F.col("n_adv") + F.col("n_dec")) > 0).select(
        "trade_date",
        "n_adv",
        "n_dec",
        "n_unch",
        (
            F.expr(
                "(CAST(1000000 AS BIGINT) * n_adv) DIV (n_adv + n_dec)"
            ).cast("double")
            / 10000.0
        ).alias("adv_share_pct"),
    )


def q16_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol OLS price trend (closed-form linear regression of close
    on calendar day): slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²).

    Exactness: x is the day offset from 1998-01-01 (|x| ≤ ~1500, integer);
    y is the close in scale-2 integer units (exact — bars close carries 2
    decimal digits). Every moment sum is then a BIGINT — order-independent
    and overflow-safe by unit budget (n·Σxy ≲ 1e17 at full date range) —
    so both engines hold identical integers and the final num/den double
    division is a single correct rounding. This is the same moments
    discipline as q13_beta but with NO floats anywhere before the last
    divide.

    Plan: one hash aggregate over the silver, map-side partials; the
    closed form avoids any window or second pass. At 100 TB the shuffle
    carries 5 longs per symbol."""
    b = bars_silver(spark, sf_dir)
    x = F.datediff(F.col("trade_date"), F.lit("1998-01-01").cast("date")).cast("long")
    y = (F.col("close") * 100).cast("long")
    agg = b.groupBy("symbol").agg(
        F.count("*").alias("n_days"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n_days")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den / 100.0
    intercept = (F.col("sy").cast("double") / 100.0 - slope * F.col("sx")) / n
    return (
        agg.filter(n >= 30)
        .select(
            "symbol",
            "n_days",
            slope.alias("slope_per_day"),
            intercept.alias("price_at_epoch"),
        )
        .orderBy("symbol")
    )


def q17_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol TWAP (time-weighted average price): each bar's close is
    weighted by the number of calendar days it was the standing price —
    the gap to the next observed bar (last bar weighs 1 day). For sparse
    instruments this differs materially from the naive mean, which
    over-weights bursts of consecutive trading days.

    Exactness: close carries 2 decimal digits → scale-2 integer cents;
    day gaps are small ints; both sums are BIGINTs (order-independent,
    overflow-safe: cents ≲ 1e7 × dt ≲ 2.5e3 × rows), so the only float op
    is the final division — one correct rounding, bit-identical across
    engines.

    Plan: the lead() gap needs one per-symbol sort (shuffle on symbol),
    then a hash aggregate over the same partitioning — Catalyst reuses the
    exchange, so at 100 TB this is ONE shuffle of the silver, and the
    aggregate output is a symbol-sized frame."""
    b = bars_silver(spark, sf_dir).select("symbol", "trade_date", "close")
    w = Window.partitionBy("symbol").orderBy("trade_date")
    dt = F.coalesce(
        F.datediff(F.lead("trade_date", 1).over(w), F.col("trade_date")), F.lit(1)
    ).cast("long")
    cents = (F.col("close") * 100).cast("long")
    seq = b.select("symbol", (cents * dt).alias("wc"), dt.alias("dt"))
    agg = seq.groupBy("symbol").agg(
        F.sum("wc").alias("swc"),
        F.sum("dt").alias("sdt"),
        F.count("*").alias("n_days"),
    )
    twap = F.col("swc").cast("double") / F.col("sdt").cast("double") / 100.0
    return agg.select("symbol", "n_days", twap.alias("twap")).orderBy("symbol")


def q18_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 30-row rolling MEDIAN of close per symbol — the robust
    counterpart to q2's rolling mean (a median line ignores the single-day
    spikes that drag a mean). Spark's exact ``percentile`` runs as a
    window aggregate over the trailing frame; no approx sketch, no
    self-join.

    Exactness: closes carry 2 decimals, so every interpolated median has
    ≤ 3 significant decimals (midpoint of two scale-2 values); snapping
    the result to the decimal(18,4) grid collapses both engines' float
    interpolation to the same number.

    Scale note: an exact sliding percentile re-sorts each frame (O(w log w)
    per row, w = 30 — trivial). For wide frames at 100 TB the scale path is
    the mergeable histogram sketch in ``llmdata.sketch`` (see
    ``quantile_sketch_close``); this query is the exact-window member of
    that pair."""
    b = bars_silver(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("trade_date")
        .rowsBetween(-29, Window.currentRow)
    )
    med = (
        F.percentile(F.col("close").cast("double"), F.lit(0.5))
        .over(w)
        .cast("decimal(18,4)")
        .cast("double")
    )
    n_in_frame = F.count("*").over(w)
    return (
        b.select(
            "symbol",
            "trade_date",
            F.col("close").cast("double").alias("close"),
            med.alias("median_30d"),
            n_in_frame.alias("n_in_frame"),
        )
        .filter(F.col("n_in_frame") >= 15)
    )


#: DIMSUM oversampling constant — deliberately small so the sampling
#: actually bites on this data (typical return-norm products ~0.1-1.0)
_DIMSUM_GAMMA = 0.05
_TWO60 = 1152921504606846976.0  # 2^60, the portable-hash domain size


def sim_dimsum_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMSUM sampled all-pairs cosine similarity (Zadeh & Goel,
    "Dimension Independent Similarity Computation", 2013 — the algorithm
    behind Spark MLlib ``RowMatrix.columnSimilarities``): the scale path
    ``q14_top_corr_pairs`` promises for UN-bounded pair screens. Each
    co-present day's product term survives with probability
    ``p_ij = min(1, γ/(‖cᵢ‖‖cⱼ‖))`` and is reweighted by ``1/p_ij``, so
    high-norm (already well-estimated) pairs are heavily subsampled while
    the estimator stays unbiased; shuffle volume becomes O(γ · pairs)
    instead of O(co-days · pairs).

    Two deliberate deviations from the MLlib implementation, both for the
    correctness gate: the sampling coin is a DETERMINISTIC md5-derived
    uniform in [0,1) (``portable_hash60 / 2^60`` of (day, pair) — rand()
    would break cross-engine and retry reproducibility), and every dot
    term snaps to an integer 1e-12 grid (``floor(t*1e12)`` as BIGINT —
    decimal casts of full-entropy doubles round differently across
    engines at high scale, floor of an exact-rounded product does not)
    so the sampled AND exact dots sum order-independently. The query emits both, plus |error|, so
    the estimator quality is part of the checked result. sqrt/division
    are IEEE exact-rounded (unlike ln), so norms match bit-for-bit.

    Plan: returns → one norm aggregate (symbol-sized, broadcast back) →
    date-keyed equi-self-join (never cartesian) → one pair aggregate."""
    b = bars_df(spark, sf_dir, partkeys=list(range(1, 61))).select(
        "symbol", "trade_date", "close"
    )
    r = _returns(b).filter(F.col("ret").isNotNull()).select("symbol", "trade_date", "ret")
    # full-entropy doubles snap to an INTEGER grid (floor(v*1e12) as long):
    # decimal casts of such doubles round differently across engines at
    # high scales, but floor of an exact-rounded product is bit-identical,
    # and the BIGINT sum is order-independent by construction
    norms = r.groupBy("symbol").agg(
        F.sqrt(
            F.sum(F.floor(F.col("ret") * F.col("ret") * F.lit(1e12))).cast("double")
            / F.lit(1e12)
        ).alias("nrm")
    )
    x, y = r.alias("x"), r.alias("y")
    pairs = x.join(
        y,
        (F.col("x.trade_date") == F.col("y.trade_date"))
        & (F.col("x.symbol") < F.col("y.symbol")),
    ).select(
        F.col("x.symbol").alias("sym_a"),
        F.col("y.symbol").alias("sym_b"),
        F.col("x.trade_date").alias("d"),
        F.col("x.ret").alias("ra"),
        F.col("y.ret").alias("rb"),
    )
    nx = norms.select(F.col("symbol").alias("sym_a"), F.col("nrm").alias("na"))
    ny = norms.select(F.col("symbol").alias("sym_b"), F.col("nrm").alias("nb"))
    probed = (
        pairs.join(F.broadcast(nx), "sym_a")
        .join(F.broadcast(ny), "sym_b")
        .withColumn(
            "pr", F.least(F.lit(1.0), F.lit(_DIMSUM_GAMMA) / (F.col("na") * F.col("nb")))
        )
        .withColumn(
            "u",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.col("d").cast("string"), F.col("sym_a"), F.col("sym_b")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .cast("double")
            / F.lit(_TWO60),
        )
    )
    t_full = F.floor(F.col("ra") * F.col("rb") * F.lit(1e12))
    t_samp = F.when(
        F.col("u") < F.col("pr"),
        F.floor((F.col("ra") * F.col("rb") / F.col("pr")) * F.lit(1e12)),
    )
    agg = probed.groupBy("sym_a", "sym_b").agg(
        F.count("*").alias("n_days"),
        F.count(t_samp).alias("n_sampled"),
        (F.sum(t_full).cast("double") / F.lit(1e12)).alias("exact_dot"),
        F.coalesce(
            F.sum(t_samp).cast("double") / F.lit(1e12), F.lit(0.0)
        ).alias("est_dot"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    exact_cos = F.col("exact_dot") / (F.col("na") * F.col("nb"))
    est_cos = F.col("est_dot") / (F.col("na") * F.col("nb"))
    return agg.select(
        "sym_a",
        "sym_b",
        "n_days",
        "n_sampled",
        exact_cos.alias("exact_cos"),
        est_cos.alias("est_cos"),
        F.abs(est_cos - exact_cos).alias("abs_err"),
    )


def gini_volume_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration metrics: the Gini coefficient of per-symbol
    total volume (G = 2·Σ i·vᵢ / (n·Σv) − (n+1)/n over ascending vᵢ) and
    the share of the top decile. All moments are BIGINT (rank × volume
    products stay far under 2^63), so both engines hold identical
    integers and the two output divisions are single correct roundings.

    Shape: one symbol aggregate over the silver, one symbol-sized rank
    window, one scalar fold — the window runs on ~|symbols| rows, post
    reduction, which is the engine's standing rule for global windows."""
    b = bars_silver(spark, sf_dir)
    vol = b.groupBy("symbol").agg(F.sum("volume").cast("long").alias("v"))
    w_asc = Window.orderBy("v", "symbol")
    w_desc = Window.orderBy(F.desc("v"), F.desc("symbol"))
    ranked = vol.select(
        "v",
        F.row_number().over(w_asc).alias("i"),
        F.row_number().over(w_desc).alias("rd"),
        F.count("*").over(Window.partitionBy()).alias("nn"),
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s0"),
        F.sum(F.col("i") * F.col("v")).alias("s1"),
        F.sum(
            F.when(F.col("rd") <= F.floor(F.col("nn") / 10), F.col("v"))
        ).alias("top_dec_v"),
    )
    n = F.col("n").cast("double")
    gini = (F.lit(2.0) * F.col("s1").cast("double")) / (n * F.col("s0").cast("double")) - (
        n + F.lit(1.0)
    ) / n
    top_share = F.col("top_dec_v").cast("double") / F.col("s0").cast("double")
    return agg.select(
        F.col("n").alias("n_symbols"),
        F.col("s0").alias("total_volume"),
        gini.alias("gini"),
        top_share.alias("top_decile_share"),
    )


def scd2_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: each symbol's price
    band (low/mid/high by fixed close thresholds) becomes effective-dated
    rows — change points detected with lag, closed with lead (open rows
    keep a NULL effective_to). The canonical SCD2 derivation: two stacked
    windows on the SAME (symbol, trade_date) ordering share one shuffle,
    and the change-point filter collapses the frame to |band changes|
    before the second window. All comparisons are on exact decimals,
    dates, and strings — no float anywhere."""
    b = bars_silver(spark, sf_dir)
    band = (
        F.when(F.col("close") < 1000, "low")
        .when(F.col("close") < 10000, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("symbol").orderBy("trade_date")
    marked = b.select("symbol", "trade_date", band.alias("band")).withColumn(
        "prev_band", F.lag("band").over(w)
    )
    changes = marked.filter(
        F.col("prev_band").isNull() | (F.col("band") != F.col("prev_band"))
    )
    w2 = Window.partitionBy("symbol").orderBy("trade_date")
    return changes.select(
        "symbol",
        "band",
        F.col("trade_date").alias("effective_from"),
        F.date_sub(F.lead("trade_date").over(w2), 1).alias("effective_to"),
    ).orderBy("symbol", "effective_from")


def islands_trading_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE calendar trading days
    per symbol via the date-minus-row_number trick (consecutive days share
    one island key). Two aggregates after one window — the window and the
    island aggregate both key on symbol, so Catalyst reuses the exchange.
    Everything is int/date arithmetic; ties on streak length break to the
    earliest start."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    grp = F.date_sub(F.col("trade_date"), F.row_number().over(w))
    islands = (
        b.select("symbol", "trade_date")
        .withColumn("island", grp)
        .groupBy("symbol", "island")
        .agg(
            F.count("*").alias("streak_days"),
            F.min("trade_date").alias("streak_start"),
            F.max("trade_date").alias("streak_end"),
        )
    )
    w_best = Window.partitionBy("symbol").orderBy(
        F.desc("streak_days"), "streak_start"
    )
    return (
        islands.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("symbol", "streak_days", "streak_start", "streak_end")
        .orderBy("symbol")
    )


def pattern_down_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-pattern detection (the MATCH_RECOGNIZE-shaped ask):
    per symbol, the longest run of consecutive down days and how many
    days sit at depth ≥3 of a down run. Run ids come from the classic
    row_number-difference trick over the down-day subsequence; both
    windows and the aggregate share the symbol shuffle. Down/up is an
    exact decimal comparison (close < prev close), never a float
    return."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    d = b.select(
        "symbol",
        "trade_date",
        (F.col("close") < F.lag("close").over(w)).alias("down"),
    ).withColumn("rn", F.row_number().over(w))
    downs = d.filter(F.col("down"))
    w_runs = Window.partitionBy("symbol").orderBy("rn")
    runs = (
        downs.withColumn("run_key", F.col("rn") - F.row_number().over(w_runs))
        .groupBy("symbol", "run_key")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        runs.groupBy("symbol")
        .agg(
            F.max("run_len").cast("int").alias("max_down_streak"),
            F.sum(F.greatest(F.col("run_len") - 2, F.lit(0)))
            .cast("long")
            .alias("n_days_depth3plus"),
        )
        .orderBy("symbol")
    )


def ar1_close_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol lag-1 autoregression slope of close (the mean-reversion
    screen): φ = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) over consecutive-day
    (prev, cur) close pairs. Same all-integer moments discipline as
    q16_trend_slope — closes become scale-2 BIGINT units via one lag
    window, every sum is exact, and the single final division is the
    only float op. One symbol shuffle shared by the lag window and the
    moment aggregate."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    units = (F.col("close") * 100).cast("long")
    pairs = (
        b.select("symbol", "trade_date", units.alias("y"))
        .withColumn("x", F.lag("y").over(w))
        .filter(F.col("x").isNotNull())
    )
    # per-row products fit a long (≤1e14), but n·Σxy reaches ~1e20 at the
    # full price range — moment sums and the closed-form combination run
    # in DECIMAL(38,0) (exact, like DuckDB's int128 HUGEINT sums)
    d0 = "decimal(38,0)"
    agg = pairs.groupBy("symbol").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").cast(d0).alias("sx"),
        F.sum("y").cast(d0).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d0)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d0)).alias("sxx"),
    )
    n = F.col("n_pairs").cast(d0)
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        agg.filter((F.col("n_pairs") >= 30) & (den != 0))
        .select("symbol", "n_pairs", (num.cast("double") / den.cast("double")).alias("ar1_phi"))
        .orderBy("symbol")
    )


def incr_symbol_totals_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (see
    operators.incremental.merge_partial_aggs): per-symbol gold totals
    maintained as (standing aggregate over history < 2001) ⊕ (delta
    aggregate over the 2001 increment) — merged with the count/sum/min/
    max partial algebra, no history re-scan. The oracle recomputes the
    SAME totals from scratch over all of history, so the gate proves
    merged == full-recompute exactly. At 100 TB the merge join is
    |symbols| ⋈ |delta symbols| — broadcast-sized both sides."""
    from securities_pricing_data_pipeline_spark.operators.incremental import (
        merge_partial_aggs,
    )

    b = bars_silver(spark, sf_dir)
    cutoff = F.lit("2001-01-01").cast("date")

    def part(df: DataFrame) -> DataFrame:
        return df.groupBy("symbol").agg(
            F.count("*").alias("n_days"),
            F.sum("volume").alias("total_volume"),
            F.max("high").alias("max_high"),
            F.min("low").alias("min_low"),
        )

    merged = merge_partial_aggs(
        part(b.filter(F.col("trade_date") < cutoff)),
        part(b.filter(F.col("trade_date") >= cutoff)),
        ["symbol"],
        {"n_days": "sum", "total_volume": "sum", "max_high": "max", "min_low": "min"},
    )
    return merged.select(
        "symbol",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("total_volume").cast("long").alias("total_volume"),
        F.col("max_high").cast("double").alias("max_high"),
        F.col("min_low").cast("double").alias("min_low"),
    )


#: fixed close-price domain for the quantile histogram sketch — covers the
#: testdata's derived price range with binary-exact bucket width
#: (120000/256 = 468.75)
_QH_LO, _QH_HI, _QH_BUCKETS = 0.0, 120000.0, 256


def quantile_sketch_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable percentile scale-path (see llmdata.sketch
    quantile_histogram): per-symbol p50/p95/p99 of close from a 256-bucket
    fixed-grid histogram — ONE hash aggregate (map-side combine reduces
    every partition to ≤256 rows/symbol), histograms merge by addition
    across shards/days, estimate = first bucket whose cumulative count
    reaches q·n (error ≤ one bucket width). The exact-sort alternative is
    ``percentile_quantity_exact``; this is what replaces it at 100 TB."""
    from securities_pricing_data_pipeline_spark.llmdata.sketch import (
        quantile_histogram,
        quantiles_from_histogram,
    )

    b = bars_silver(spark, sf_dir)
    hist = quantile_histogram(
        b, F.col("close"), ["symbol"], _QH_LO, _QH_HI, _QH_BUCKETS
    )
    return quantiles_from_histogram(
        hist,
        ["symbol"],
        {"p50_est": 0.5, "p95_est": 0.95, "p99_est": 0.99},
        _QH_LO,
        _QH_HI,
        _QH_BUCKETS,
    )


def snapshot_diff_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: each symbol's last close as-of 1997-06-30
    vs as-of 1997-12-31, classified added / removed / changed / unchanged
    — the shape of a warehouse change-data feed when the source only
    offers snapshots. One full-outer join on the (already per-symbol
    reduced) as-of frames; payload comparison on exact decimals. At
    100 TB both sides reduce before the join, so the join input is
    |symbols| rows."""
    b = bars_silver(spark, sf_dir)

    def as_of(cutoff: str):
        w = Window.partitionBy("symbol").orderBy(F.desc("trade_date"))
        return (
            b.filter(F.col("trade_date") <= F.lit(cutoff).cast("date"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("symbol", F.col("close").alias("close"))
        )

    old = as_of("1997-06-30").select(F.col("symbol").alias("o_sym"), F.col("close").alias("o_close"))
    new = as_of("1997-12-31").select(F.col("symbol").alias("n_sym"), F.col("close").alias("n_close"))
    j = old.join(new, old.o_sym == new.n_sym, "full_outer")
    status = (
        F.when(F.col("o_sym").isNull(), "added")
        .when(F.col("n_sym").isNull(), "removed")
        .when(F.col("o_close") != F.col("n_close"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_symbols"))
        .orderBy("status")
    )


def pit_band_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup (the feature-store correctness
    shape): July-1997 bars joined to the SCD2 band history at THEIR OWN
    trade date — effective_from ≤ d AND (effective_to IS NULL OR
    d ≤ effective_to) — never the current value (that would leak the
    future). The non-equi range condition rides a symbol equi-join, so
    the plan is a hash join with a residual filter, not a nested loop;
    at 100 TB the SCD2 side is dimension-sized (|band changes|). Output
    aggregates to band counts for a compact contract."""
    b = bars_silver(spark, sf_dir).filter(
        (F.col("trade_date") >= F.lit("1997-07-01").cast("date"))
        & (F.col("trade_date") < F.lit("1997-08-01").cast("date"))
    ).select("symbol", "trade_date")
    hist = scd2_price_bands(spark, sf_dir).select(
        F.col("symbol").alias("h_sym"), "band", "effective_from", "effective_to"
    )
    j = b.join(
        hist,
        (F.col("symbol") == F.col("h_sym"))
        & (F.col("effective_from") <= F.col("trade_date"))
        & (F.col("effective_to").isNull() | (F.col("trade_date") <= F.col("effective_to"))),
        "inner",
    )
    return (
        j.groupBy("band")
        .agg(
            F.count("*").alias("n_bar_days"),
            F.countDistinct("symbol").alias("n_symbols"),
        )
        .orderBy("band")
    )


def q14_top_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-correlated instrument pairs (the pairs-trading screen):
    Pearson correlation of MONTHLY close-to-close returns between the
    top-20 symbols by total volume, top-10 pairs by |ρ|, ≥ 10 shared
    months. Monthly (not daily) grain is what makes the screen
    non-vacuous on sparse per-symbol calendars: top symbols here share
    at most ~6 trading DAYS but ~80 calendar months (r6 fix — the daily
    variant returned zero rows at every SF).

    Scale posture: the quadratic blow-up is bounded BEFORE it happens —
    pair enumeration only ever sees the top-k liquid symbols (k² pairs,
    constant), never the full universe, and the month-keyed self-join
    broadcasts the (tiny, top-k-filtered) build side. An unbounded
    all-pairs correlation at 100 TB needs DIMSUM-style sampling instead
    (implemented: ``sim_dimsum_cosine``). Exactness: month-end close is
    an exact scale-2 int64 (max_by on the unique trade_date), the return
    is a long/long double division (deterministic), and moment sums
    follow the helpers.py snap discipline so both engines agree
    bit-for-bit."""
    b = bars_silver(spark, sf_dir)
    top = (
        b.groupBy("symbol")
        .agg(F.sum("volume").cast("long").alias("tv"))
        .orderBy(F.desc("tv"), "symbol")
        .limit(20)
        .select("symbol")
    )
    mc = (
        b.join(F.broadcast(top), "symbol")
        .groupBy("symbol", F.trunc("trade_date", "month").alias("month"))
        .agg(F.max_by((F.col("close") * 100).cast("long"), "trade_date").alias("cu"))
    )
    wm = Window.partitionBy("symbol").orderBy("month")
    prev = F.lag("cu").over(wm)
    r = mc.select(
        "symbol",
        "month",
        ((F.col("cu") - prev).cast("double") / prev.cast("double")).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    a = r.select(F.col("symbol").alias("sym_a"), "month", F.col("ret").alias("ra"))
    bb = r.select(F.col("symbol").alias("sym_b"), "month", F.col("ret").alias("rb"))
    pairs = a.join(F.broadcast(bb), "month").filter(F.col("sym_a") < F.col("sym_b"))
    m = pairs.groupBy("sym_a", "sym_b").agg(
        F.count("*").alias("n_months"),
        F.sum(dec(F.col("ra"), 10)).cast("double").alias("sa"),
        F.sum(dec(F.col("rb"), 10)).cast("double").alias("sb"),
        F.sum(dec(F.col("ra") * F.col("rb"), 9)).cast("double").alias("sab"),
        F.sum(dec(F.col("ra") * F.col("ra"), 9)).cast("double").alias("saa"),
        F.sum(dec(F.col("rb") * F.col("rb"), 9)).cast("double").alias("sbb"),
    )
    n = F.col("n_months")
    cov = n * F.col("sab") - F.col("sa") * F.col("sb")
    va = F.greatest(n * F.col("saa") - F.col("sa") * F.col("sa"), F.lit(0.0))
    vb = F.greatest(n * F.col("sbb") - F.col("sb") * F.col("sb"), F.lit(0.0))
    corr = cov / F.nullif(F.sqrt(va) * F.sqrt(vb), F.lit(0.0))
    return (
        m.filter(n >= 10)
        .select("sym_a", "sym_b", "n_months", corr.alias("corr"))
        .filter(F.col("corr").isNotNull())
        .orderBy(F.desc(F.abs(F.col("corr"))), "sym_a", "sym_b")
        .limit(10)
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2+Q3+Q6: top-20 by 30-day rolling avg traded value, with rank.

    Plan shape: the rolling average is only consumed at each symbol's
    LATEST bar, so instead of materializing a running window over every
    row (2 windows + rank in the naive form), rank bars per symbol by
    recency ONCE, keep the last 30, and aggregate — one shuffle on
    symbol, then a ~1-row-per-symbol frame feeds the global rank. At
    100 TB the global window never sees raw rows.
    """
    b = bars_silver(spark, sf_dir)
    wrecent = Window.partitionBy("symbol").orderBy(F.desc("trade_date"))
    last30 = b.withColumn("rn", F.row_number().over(wrecent)).filter(F.col("rn") <= 30)
    latest = last30.groupBy("symbol").agg(
        F.max("trade_date").alias("as_of_date"),
        (F.sum(_tv()).cast("double") / F.count("*")).alias("avg_traded_value_30d"),
    )
    wrank = Window.orderBy(F.desc("avg_traded_value_30d"))
    return (
        latest.select(
            "symbol",
            "as_of_date",
            "avg_traded_value_30d",
            F.dense_rank().over(wrank).cast("int").alias("liquidity_rank"),
        )
        .orderBy(F.desc("avg_traded_value_30d"), "symbol")
        .limit(20)
    )


_RQ_WINSOR = (
    "greatest(CAST(-50000 AS BIGINT), least(CAST(50000 AS BIGINT), "
    "CAST(10000 AS BIGINT) * cu DIV pu - CAST(10000 AS BIGINT)))"
)


def _rq_frame(b: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """Shared winsorized basis-point daily-return frame (q30's discipline):
    cu = exact ×10000 int64 close, pu its lag, rq the ±50000 bp-clamped
    integer return. One symbol-window pass; every downstream moment stays
    inside int64. ``extra`` carries additional bar columns through."""
    w = Window.partitionBy("symbol").orderBy("trade_date")
    cu = (F.col("close") * 10000).cast("long")
    cols = ["symbol", "trade_date"] + (extra or [])
    d = b.select(*cols, cu.alias("cu")).withColumn("pu", F.lag("cu").over(w))
    return d.filter(F.col("pu").isNotNull() & (F.col("pu") > 0)).select(
        *cols, "cu", F.expr(_RQ_WINSOR).alias("rq")
    )


def q35_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio per symbol: annualized mean daily return / maximum
    drawdown — the drawdown-denominated risk ratio CTAs quote alongside
    Sharpe/Sortino (q30/q34). Exactness: the running peak is an int64
    window MAX of exact close units; each day's drawdown is the integer
    basis-point quotient (1e4·(peak−cu)) DIV peak (non-negative, so
    truncating DIV and floor // agree); MAX(dd) and the winsorized-return
    sum are exact int64, and the final ratio is a fixed chain of double
    ops on values both engines hold bit-identically.

    Plan: ONE symbol-window sort serves both the lag and the running
    peak, then a single hash aggregate to 3 scalars per symbol — shuffle
    on the symbol key only, partials combine map-side."""
    b = bars_silver(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("trade_date")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    cu = (F.col("close") * 10000).cast("long")
    d = b.select("symbol", "trade_date", cu.alias("cu")).select(
        "symbol",
        "cu",
        F.lag("cu").over(w).alias("pu"),
        F.max("cu").over(wrun).alias("peak"),
    )
    rq = F.when(F.col("pu").isNotNull() & (F.col("pu") > 0), F.expr(_RQ_WINSOR))
    dd = F.expr("(CAST(10000 AS BIGINT) * (peak - cu)) DIV peak")
    agg = (
        d.select("symbol", rq.alias("rq"), dd.alias("dd"))
        .groupBy("symbol")
        .agg(
            F.count("rq").alias("n_days"),
            F.sum("rq").alias("s1"),
            F.max("dd").alias("maxdd"),
        )
        .filter((F.col("n_days") >= 30) & (F.col("maxdd") > 0))
    )
    s1d = F.col("s1").cast("double")
    return agg.select(
        "symbol",
        "n_days",
        (F.lit(252.0) * s1d / F.col("n_days") / F.lit(100.0)).alias("ann_ret_pct"),
        (F.col("maxdd").cast("double") / F.lit(100.0)).alias("maxdd_pct"),
        (F.lit(252.0) * s1d / F.col("n_days") / F.col("maxdd").cast("double")).alias(
            "calmar"
        ),
    )


def q36_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud (2002) illiquidity per symbol: mean over trading days of
    |return| / dollar volume — the standard price-impact proxy. Exactness:
    dollar volume rides exact integer units dvu = cu·volume (≤ ~1e13,
    int64-safe); each day's term is the non-negative integer quotient
    (|rq|·1e9) DIV dvu, so the per-symbol sum is exact int64 and the
    final mean is one int→double cast and one divide. Output is the
    conventional ×1e9 scaling. Plan: one symbol-window pass for the lag,
    one hash aggregate — identical shuffle shape to q30."""
    b = bars_silver(spark, sf_dir)
    r = _rq_frame(b, extra=["volume"])
    dvu = F.col("cu") * F.col("volume")
    term = F.expr("(abs(rq) * CAST(1000000000 AS BIGINT)) DIV (cu * volume)")
    d = r.filter(dvu > 0).select("symbol", term.alias("term"), dvu.alias("dvu"))
    agg = d.groupBy("symbol").agg(
        F.count("*").alias("n_days"),
        F.sum("term").alias("st"),
        F.sum("dvu").alias("sdv"),
    )
    return agg.filter(F.col("n_days") >= 30).select(
        "symbol",
        "n_days",
        (F.col("st").cast("double") / F.col("n_days")).alias("amihud_x1e9"),
        (F.col("sdv").cast("double") / F.lit(10000.0)).alias("total_dollar_volume"),
    )


def q37_momentum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum deciles: each symbol's full-window price
    momentum (last close / first close, exact integer basis points —
    positive quotient, so DIV == //), ranked into NTILE(10) buckets over
    (momentum, symbol) — the deterministic tie-break makes both engines
    assign identical deciles — then per-decile count / mean / min / max.
    The canonical factor-construction step of a momentum strategy.

    Plan: one hash aggregate to a symbol-level frame (bounded cardinality
    — symbols, not rows), a single-partition ntile window over that small
    frame (fine at any SF: the windowed set is ~10⁴ rows), and a tiny
    final aggregate."""
    b = bars_silver(spark, sf_dir)
    cu = (F.col("close") * 10000).cast("long")
    per = (
        b.select("symbol", "trade_date", cu.alias("cu"))
        .groupBy("symbol")
        .agg(
            F.count("*").alias("n_days"),
            F.min_by("cu", "trade_date").alias("c0"),
            F.max_by("cu", "trade_date").alias("cn"),
        )
        .filter((F.col("n_days") >= 30) & (F.col("c0") > 0))
        .select(
            "symbol",
            F.expr(
                "CAST(10000 AS BIGINT) * cn DIV c0 - CAST(10000 AS BIGINT)"
            ).alias("mom_bp"),
        )
    )
    wd = Window.orderBy("mom_bp", "symbol")
    ranked = per.select("symbol", "mom_bp", F.ntile(10).over(wd).alias("decile"))
    agg = ranked.groupBy("decile").agg(
        F.count("*").alias("n_symbols"),
        F.sum("mom_bp").alias("sm"),
        F.min("mom_bp").alias("min_bp"),
        F.max("mom_bp").alias("max_bp"),
    )
    return agg.select(
        "decile",
        "n_symbols",
        (F.col("sm").cast("double") / F.col("n_symbols") / F.lit(100.0)).alias(
            "mean_mom_pct"
        ),
        (F.col("min_bp").cast("double") / F.lit(100.0)).alias("min_mom_pct"),
        (F.col("max_bp").cast("double") / F.lit(100.0)).alias("max_mom_pct"),
    )


def q38_capture_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong/weak-market capture per symbol vs the equal-weight market:
    the symbol's summed return over its active strong (weak) market days
    divided by the market's summed return over those same days — the
    mean-based capture variant that needs no compounding. The regime
    split is the market's MEDIAN day (exact lower-median rank selection,
    q31's discipline) rather than zero: this corpus's market aggregate is
    structurally up-biased (97% of days sum positive at sf0.01), so the
    textbook sign split is vacuous; median-relative regimes are the
    standard demeaned adaptation and stay ~50/50 at any SF. Exactness:
    the market day return is the int64 SUM of winsorized bp returns
    (q13's sum-not-mean rationale); the median is an exact rank pick;
    all four numerators/denominators are exact int64 sums; the two
    ratios are single double divisions.

    Plan: the day-level market frame is tiny (one row per trading day) —
    ranked in one pass, then broadcast back onto the return stream; one
    hash aggregate per symbol."""
    b = bars_silver(spark, sf_dir)
    r = _rq_frame(b)
    mkt = r.groupBy("trade_date").agg(F.sum("rq").alias("mkt"))
    wr = Window.orderBy("mkt", "trade_date")
    ranked = mkt.select(
        "trade_date",
        "mkt",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("nd"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(nd + 1) DIV 2")
    ).select(F.col("mkt").alias("med"))
    j = r.join(F.broadcast(mkt), "trade_date").crossJoin(F.broadcast(med))
    up = F.col("mkt") > F.col("med")
    dn = F.col("mkt") < F.col("med")
    agg = j.groupBy("symbol").agg(
        F.count(F.when(up, 1)).alias("n_up"),
        F.count(F.when(dn, 1)).alias("n_down"),
        F.sum(F.when(up, F.col("rq"))).alias("s_up"),
        F.sum(F.when(dn, F.col("rq"))).alias("s_dn"),
        F.sum(F.when(up, F.col("mkt"))).alias("m_up"),
        F.sum(F.when(dn, F.col("mkt"))).alias("m_dn"),
    )
    return agg.filter((F.col("n_up") >= 10) & (F.col("n_down") >= 10)).select(
        "symbol",
        "n_up",
        "n_down",
        (F.col("s_up").cast("double") / F.col("m_up").cast("double")).alias(
            "up_capture"
        ),
        (F.col("s_dn").cast("double") / F.col("m_dn").cast("double")).alias(
            "down_capture"
        ),
    )


def q39_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio test statistic VR(5) per symbol:
    population variance of overlapping 5-day returns / (5 × variance of
    daily returns). VR ≈ 1 under a random walk; persistent trends push it
    above 1, mean reversion below. Exactness: the 5-day return is an
    int64 window SUM of winsorized bp returns; both variance numerators
    n·Σx²−(Σx)² stay inside int64 by the unit budget (|rq5| ≤ 2.5e5,
    squares ≤ 6.25e10, ×2500 days ≈ 1.6e14); the final VR is a fixed
    chain of double ops on exactly-agreed integers.

    Plan: one symbol-window sort serves the lag AND the 5-day rolling
    sum; one hash aggregate computes both variance's moments via
    conditional sums — no second pass, no second shuffle."""
    b = bars_silver(spark, sf_dir)
    r = _rq_frame(b)
    w5 = (
        Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(-4, 0)
    )
    d = r.select(
        "symbol",
        "rq",
        F.sum("rq").over(w5).alias("rq5"),
        F.count("*").over(w5).alias("n5w"),
    )
    full = F.col("n5w") == 5
    agg = d.groupBy("symbol").agg(
        F.count("*").alias("n1"),
        F.sum("rq").alias("sx"),
        F.sum(F.col("rq") * F.col("rq")).alias("sxx"),
        F.count(F.when(full, 1)).alias("n5"),
        F.sum(F.when(full, F.col("rq5"))).alias("sy"),
        F.sum(F.when(full, F.col("rq5") * F.col("rq5"))).alias("syy"),
    )
    d1 = F.col("n1") * F.col("sxx") - F.col("sx") * F.col("sx")
    d5 = F.col("n5") * F.col("syy") - F.col("sy") * F.col("sy")
    vr = (d5.cast("double") / (F.col("n5") * F.col("n5")).cast("double")) / (
        F.lit(5.0) * d1.cast("double") / (F.col("n1") * F.col("n1")).cast("double")
    )
    return agg.filter((F.col("n1") >= 40) & (F.col("n5") >= 30) & (d1 > 0)).select(
        "symbol", F.col("n1").alias("n_days"), vr.alias("vr5")
    )


def q40_info_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized information ratio per symbol vs the equal-weight market:
    mean(active) / sd(active) × √252 where active = rq − market-mean-bp.
    The market mean is defined as trunc(S/n) — an int64 both engines
    derive identically: S and n are exact int64, their IEEE double
    quotient is correctly rounded (so an exactly-integer quotient is hit
    exactly), and double→long truncation matches DuckDB's trunc(). Active
    returns are then exact int64 (|active| ≤ 1e5), so the q30 moment
    pipeline applies unchanged.

    Plan: tiny day-level aggregate broadcast back; one symbol hash
    aggregate of three moments."""
    b = bars_silver(spark, sf_dir)
    r = _rq_frame(b)
    mkt = r.groupBy("trade_date").agg(
        F.sum("rq").alias("s"), F.count("*").alias("nsym")
    )
    mbar = (F.col("s").cast("double") / F.col("nsym")).cast("long")
    j = r.join(F.broadcast(mkt.select("trade_date", mbar.alias("mbar"))), "trade_date")
    act = F.col("rq") - F.col("mbar")
    agg = (
        j.select("symbol", act.alias("act"))
        .groupBy("symbol")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("act").alias("s1"),
            F.sum(F.col("act") * F.col("act")).alias("s2"),
        )
        .filter(F.col("n_days") >= 30)
    )
    dvar = F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")
    ir = (
        F.col("s1").cast("double") / F.sqrt(dvar.cast("double")) * F.sqrt(F.lit(252.0))
    )
    return agg.filter(dvar > 0).select("symbol", "n_days", ir.alias("ann_ir"))


QUERIES = {
    "q1_market_totals": q1_market_totals,
    "q2_rolling_liquidity": q2_rolling_liquidity,
    "q2b_rolling_calendar": q2b_rolling_calendar,
    "q3_liquidity_rank": q3_liquidity_rank,
    "q4_segment_contribution": q4_segment_contribution,
    "q4b_sector_contribution": q4b_sector_contribution,
    "q5_daily_returns": q5_daily_returns,
    "q6_top_volume": q6_top_volume,
    "q7_volatility_topk": q7_volatility_topk,
    "q8_ohlc_series": q8_ohlc_series,
    "q9_price_averages": q9_price_averages,
    "q10_zscore_anomalies": q10_zscore_anomalies,
    "q11_vwap": q11_vwap,
    "q12_max_drawdown": q12_max_drawdown,
    "q13_beta": q13_beta,
    "q14_top_corr_pairs": q14_top_corr_pairs,
    "q15_rsi": q15_rsi,
    "q19_ewma": q19_ewma,
    "q20_bollinger": q20_bollinger,
    "q21_stochastic": q21_stochastic,
    "q22_atr": q22_atr,
    "q23_obv": q23_obv,
    "q24_macd": q24_macd,
    "q25_donchian": q25_donchian,
    "q26_williams_r": q26_williams_r,
    "q27_roc": q27_roc,
    "q28_keltner": q28_keltner,
    "q29_pivot_points": q29_pivot_points,
    "q30_sharpe": q30_sharpe,
    "q31_var_es": q31_var_es,
    "q34_sortino": q34_sortino,
    "q35_calmar": q35_calmar,
    "q36_amihud": q36_amihud,
    "q37_momentum_deciles": q37_momentum_deciles,
    "q38_capture_ratios": q38_capture_ratios,
    "q39_variance_ratio": q39_variance_ratio,
    "q40_info_ratio": q40_info_ratio,
    "q32_seasonality": q32_seasonality,
    "q33_market_breadth": q33_market_breadth,
    "q16_trend_slope": q16_trend_slope,
    "q17_twap": q17_twap,
    "q18_rolling_median": q18_rolling_median,
    "sim_dimsum_cosine": sim_dimsum_cosine,
    "gini_volume_concentration": gini_volume_concentration,
    "scd2_price_bands": scd2_price_bands,
    "incr_symbol_totals_update": incr_symbol_totals_update,
    "quantile_sketch_close": quantile_sketch_close,
    "snapshot_diff_positions": snapshot_diff_positions,
    "ar1_close_autocorr": ar1_close_autocorr,
    "pit_band_lookup": pit_band_lookup,
    "islands_trading_streaks": islands_trading_streaks,
    "pattern_down_streaks": pattern_down_streaks,
    "flagship_liquidity_top20": flagship,
}

# shared winsorized-return CTE for the q35+ risk-ratio oracles (mirrors
# _rq_frame: exact int64 close units, lag, ±50000 bp clamp; all divisions
# downstream keep non-negative operands so // ≡ Spark's DIV)
RQ_SQL = BARS_SQL + """
, r AS (
  SELECT symbol, trade_date, volume,
         CAST(close * 10000 AS BIGINT) AS cu,
         lag(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS pu
  FROM bars
), rq AS (
  SELECT symbol, trade_date, volume, cu,
         greatest(CAST(-50000 AS BIGINT), least(CAST(50000 AS BIGINT),
           CAST(10000 AS BIGINT) * cu // pu - CAST(10000 AS BIGINT))) AS rq
  FROM r WHERE pu IS NOT NULL AND pu > 0
)
"""

ORACLES = {
    "q35_calmar": BARS_SQL
    + """
, r AS (
  SELECT symbol, trade_date,
         CAST(close * 10000 AS BIGINT) AS cu,
         lag(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS pu,
         MAX(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date
                 ROWS UNBOUNDED PRECEDING) AS peak
  FROM bars
), t AS (
  SELECT symbol,
         CASE WHEN pu IS NOT NULL AND pu > 0 THEN
           greatest(CAST(-50000 AS BIGINT), least(CAST(50000 AS BIGINT),
             CAST(10000 AS BIGINT) * cu // pu - CAST(10000 AS BIGINT)))
         END AS rq,
         (CAST(10000 AS BIGINT) * (peak - cu)) // peak AS dd
  FROM r
), m AS (
  SELECT symbol, COUNT(rq) AS n_days,
         CAST(SUM(rq) AS BIGINT) AS s1,
         CAST(MAX(dd) AS BIGINT) AS maxdd
  FROM t GROUP BY 1
)
SELECT symbol, n_days,
       252.0 * CAST(s1 AS DOUBLE) / n_days / 100.0 AS ann_ret_pct,
       CAST(maxdd AS DOUBLE) / 100.0 AS maxdd_pct,
       252.0 * CAST(s1 AS DOUBLE) / n_days / CAST(maxdd AS DOUBLE) AS calmar
FROM m WHERE n_days >= 30 AND maxdd > 0
""",
    "q36_amihud": RQ_SQL
    + """
, t AS (
  SELECT symbol,
         (abs(rq) * CAST(1000000000 AS BIGINT)) // (cu * volume) AS term,
         cu * volume AS dvu
  FROM rq WHERE cu * volume > 0
), m AS (
  SELECT symbol, COUNT(*) AS n_days,
         CAST(SUM(term) AS BIGINT) AS st,
         CAST(SUM(dvu) AS BIGINT) AS sdv
  FROM t GROUP BY 1
)
SELECT symbol, n_days,
       CAST(st AS DOUBLE) / n_days AS amihud_x1e9,
       CAST(sdv AS DOUBLE) / 10000.0 AS total_dollar_volume
FROM m WHERE n_days >= 30
""",
    "q37_momentum_deciles": BARS_SQL
    + """
, per AS (
  SELECT symbol, COUNT(*) AS n_days,
         arg_min(CAST(close * 10000 AS BIGINT), trade_date) AS c0,
         arg_max(CAST(close * 10000 AS BIGINT), trade_date) AS cn
  FROM bars GROUP BY 1
), mom AS (
  SELECT symbol,
         CAST(10000 AS BIGINT) * cn // c0 - CAST(10000 AS BIGINT) AS mom_bp
  FROM per WHERE n_days >= 30 AND c0 > 0
), ranked AS (
  SELECT symbol, mom_bp,
         CAST(ntile(10) OVER (ORDER BY mom_bp, symbol) AS INTEGER) AS decile
  FROM mom
), agg AS (
  SELECT decile, COUNT(*) AS n_symbols,
         CAST(SUM(mom_bp) AS BIGINT) AS sm,
         MIN(mom_bp) AS min_bp, MAX(mom_bp) AS max_bp
  FROM ranked GROUP BY 1
)
SELECT decile, n_symbols,
       CAST(sm AS DOUBLE) / n_symbols / 100.0 AS mean_mom_pct,
       CAST(min_bp AS DOUBLE) / 100.0 AS min_mom_pct,
       CAST(max_bp AS DOUBLE) / 100.0 AS max_mom_pct
FROM agg
""",
    "q38_capture_ratios": RQ_SQL
    + """
, mkt AS (
  SELECT trade_date, CAST(SUM(rq) AS BIGINT) AS mkt
  FROM rq GROUP BY 1
), med AS (
  SELECT mkt AS med FROM (
    SELECT mkt, row_number() OVER (ORDER BY mkt, trade_date) AS rn,
           COUNT(*) OVER () AS nd
    FROM mkt
  ) WHERE rn = (nd + 1) // 2
), j AS (
  SELECT rq.symbol, rq.rq, mkt.mkt, med.med
  FROM rq JOIN mkt USING (trade_date) CROSS JOIN med
), agg AS (
  SELECT symbol,
         COUNT(CASE WHEN mkt > med THEN 1 END) AS n_up,
         COUNT(CASE WHEN mkt < med THEN 1 END) AS n_down,
         CAST(SUM(CASE WHEN mkt > med THEN rq END) AS BIGINT) AS s_up,
         CAST(SUM(CASE WHEN mkt < med THEN rq END) AS BIGINT) AS s_dn,
         CAST(SUM(CASE WHEN mkt > med THEN mkt END) AS BIGINT) AS m_up,
         CAST(SUM(CASE WHEN mkt < med THEN mkt END) AS BIGINT) AS m_dn
  FROM j GROUP BY 1
)
SELECT symbol, n_up, n_down,
       CAST(s_up AS DOUBLE) / CAST(m_up AS DOUBLE) AS up_capture,
       CAST(s_dn AS DOUBLE) / CAST(m_dn AS DOUBLE) AS down_capture
FROM agg WHERE n_up >= 10 AND n_down >= 10
""",
    "q39_variance_ratio": RQ_SQL
    + """
, d AS (
  SELECT symbol, rq,
         CAST(SUM(rq) OVER (PARTITION BY symbol ORDER BY trade_date
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
              AS BIGINT) AS rq5,
         COUNT(*) OVER (PARTITION BY symbol ORDER BY trade_date
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n5w
  FROM rq
), agg AS (
  SELECT symbol,
         COUNT(*) AS n1,
         CAST(SUM(rq) AS BIGINT) AS sx,
         CAST(SUM(rq * rq) AS BIGINT) AS sxx,
         COUNT(CASE WHEN n5w = 5 THEN 1 END) AS n5,
         CAST(SUM(CASE WHEN n5w = 5 THEN rq5 END) AS BIGINT) AS sy,
         CAST(SUM(CASE WHEN n5w = 5 THEN rq5 * rq5 END) AS BIGINT) AS syy
  FROM d GROUP BY 1
)
SELECT symbol, n1 AS n_days,
       (CAST(n5 * syy - sy * sy AS DOUBLE) / CAST(n5 * n5 AS DOUBLE))
       / (5.0 * CAST(n1 * sxx - sx * sx AS DOUBLE) / CAST(n1 * n1 AS DOUBLE))
         AS vr5
FROM agg
WHERE n1 >= 40 AND n5 >= 30 AND n1 * sxx - sx * sx > 0
""",
    "q40_info_ratio": RQ_SQL
    + """
, mkt AS (
  SELECT trade_date,
         CAST(trunc(CAST(CAST(SUM(rq) AS BIGINT) AS DOUBLE) / COUNT(*))
              AS BIGINT) AS mbar
  FROM rq GROUP BY 1
), j AS (
  SELECT rq.symbol, rq.rq - mkt.mbar AS act
  FROM rq JOIN mkt USING (trade_date)
), agg AS (
  SELECT symbol, COUNT(*) AS n_days,
         CAST(SUM(act) AS BIGINT) AS s1,
         CAST(SUM(act * act) AS BIGINT) AS s2
  FROM j GROUP BY 1
)
SELECT symbol, n_days,
       CAST(s1 AS DOUBLE) / sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE))
         * sqrt(252.0) AS ann_ir
FROM agg WHERE n_days >= 30 AND n_days * s2 - s1 * s1 > 0
""",
    "gini_volume_concentration": BARS_SQL
    + """
, vol AS (
  SELECT symbol, CAST(SUM(volume) AS BIGINT) AS v FROM bars GROUP BY 1
), ranked AS (
  SELECT v,
         row_number() OVER (ORDER BY v, symbol) AS i,
         row_number() OVER (ORDER BY v DESC, symbol DESC) AS rd,
         COUNT(*) OVER () AS nn
  FROM vol
), agg AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(v) AS BIGINT) AS s0,
         CAST(SUM(i * v) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN rd <= nn // 10 THEN v END) AS BIGINT) AS top_dec_v
  FROM ranked
)
SELECT n AS n_symbols, s0 AS total_volume,
       (2.0 * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE))
         - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini,
       CAST(top_dec_v AS DOUBLE) / CAST(s0 AS DOUBLE) AS top_decile_share
FROM agg
""",
    "sim_dimsum_cosine": """
WITH fbars AS (
  SELECT 'P' || CAST(l_partkey AS VARCHAR) AS symbol,
         CAST(l_shipdate AS DATE) AS trade_date,
         CAST(arg_max(l_extendedprice, l_orderkey * 10 + l_linenumber) AS DECIMAL(18,4)) AS close
  FROM lineitem
  WHERE l_partkey BETWEEN 1 AND 60
  GROUP BY 1, 2
), rets AS (
  SELECT symbol, trade_date,
         (CASE WHEN c < p THEN -1 ELSE 1 END
            * ((200000000 * abs(c - p) + p) // (2 * p))) / 1e8 AS ret
  FROM (
    SELECT symbol, trade_date,
           CAST(close * 10000 AS BIGINT) AS c,
           lag(CAST(close * 10000 AS BIGINT))
               OVER (PARTITION BY symbol ORDER BY trade_date) AS p
    FROM fbars
  )
), r AS (
  SELECT * FROM rets WHERE ret IS NOT NULL
), norms AS (
  SELECT symbol,
         sqrt(CAST(SUM(CAST(floor(ret * ret * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm
  FROM r GROUP BY 1
), pairs AS (
  SELECT x.symbol AS sym_a, y.symbol AS sym_b, x.trade_date AS d,
         x.ret AS ra, y.ret AS rb
  FROM r x JOIN r y
    ON x.trade_date = y.trade_date AND x.symbol < y.symbol
), probed AS (
  SELECT p.*, nx.nrm AS na, ny.nrm AS nb,
         LEAST(1.0, 0.05 / (nx.nrm * ny.nrm)) AS pr,
         CAST(CAST(('0x' || substr(md5(CAST(p.d AS VARCHAR) || '|' || p.sym_a || '|' || p.sym_b), 1, 15)) AS BIGINT) AS DOUBLE)
           / 1152921504606846976.0 AS u
  FROM pairs p
  JOIN norms nx ON p.sym_a = nx.symbol
  JOIN norms ny ON p.sym_b = ny.symbol
), terms AS (
  SELECT sym_a, sym_b, na, nb,
         CAST(floor(ra * rb * 1e12) AS BIGINT) AS t_full,
         CASE WHEN u < pr
              THEN CAST(floor((ra * rb / pr) * 1e12) AS BIGINT) END AS t_samp
  FROM probed
), agg AS (
  SELECT sym_a, sym_b,
         COUNT(*) AS n_days,
         COUNT(t_samp) AS n_sampled,
         CAST(SUM(t_full) AS DOUBLE) / 1e12 AS exact_dot,
         COALESCE(CAST(SUM(t_samp) AS DOUBLE) / 1e12, 0.0) AS est_dot,
         MAX(na) AS na, MAX(nb) AS nb
  FROM terms GROUP BY 1, 2
)
SELECT sym_a, sym_b, n_days, n_sampled,
       exact_dot / (na * nb) AS exact_cos,
       est_dot / (na * nb) AS est_cos,
       abs(est_dot / (na * nb) - exact_dot / (na * nb)) AS abs_err
FROM agg
""",
    "q17_twap": BARS_SQL
    + """
, seq AS (
  SELECT symbol,
         CAST(close * 100 AS BIGINT) AS cents,
         CAST(COALESCE(date_diff('day', trade_date,
                                 lead(trade_date) OVER (PARTITION BY symbol
                                                        ORDER BY trade_date)),
                       1) AS BIGINT) AS dt
  FROM bars
)
SELECT symbol, COUNT(*) AS n_days,
       CAST(SUM(cents * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE) / 100.0 AS twap
FROM seq
GROUP BY symbol
ORDER BY symbol
""",
    "q18_rolling_median": BARS_SQL
    + """
, med AS (
  SELECT symbol, trade_date,
         CAST(close AS DOUBLE) AS close,
         CAST(CAST(median(CAST(close AS DOUBLE))
                     OVER (PARTITION BY symbol ORDER BY trade_date
                           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
                   AS DECIMAL(18,4)) AS DOUBLE) AS median_30d,
         COUNT(*) OVER (PARTITION BY symbol ORDER BY trade_date
                        ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS n_in_frame
  FROM bars
)
SELECT * FROM med WHERE n_in_frame >= 15
""",
    "q10_zscore_anomalies": BARS_SQL
    + """
, stats AS (
  SELECT symbol, trade_date, CAST(close AS DOUBLE) AS close_d,
         CAST(SUM(close) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(CAST(close AS DECIMAL(38,4)) * close AS DECIMAL(38,4))) OVER w AS DOUBLE) AS sx2,
         CAST(COUNT(close) OVER w AS DOUBLE) AS n
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date, close_d AS close,
       (close_d - sx / n) / sqrt((sx2 - sx * sx / n) / (n - 1)) AS zscore
FROM stats
WHERE n >= 20
  AND (sx2 - sx * sx / n) / (n - 1) > 1e-12
  AND abs((close_d - sx / n) / sqrt((sx2 - sx * sx / n) / (n - 1))) > 2.2
""",
    "q1_market_totals": BARS_SQL
    + """
SELECT CAST(SUM(close * volume) AS DOUBLE) AS total_traded_value,
       CAST(SUM(volume) AS BIGINT)         AS total_volume,
       COUNT(DISTINCT symbol)              AS n_symbols,
       COUNT(*)                            AS n_bars
FROM bars
""",
    "q2_rolling_liquidity": BARS_SQL
    + """
SELECT symbol, trade_date,
       CAST(SUM(volume) OVER w AS DOUBLE) / COUNT(*) OVER w        AS avg_volume_30d,
       CAST(SUM(close * volume) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_traded_value_30d
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
""",
    "q2b_rolling_calendar": BARS_SQL
    + """
SELECT symbol, trade_date,
       COUNT(*) OVER w AS n_days_present,
       CAST(SUM(volume) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_volume_30cd,
       CAST(SUM(close * volume) OVER w AS DOUBLE) / COUNT(*) OVER w
         AS avg_traded_value_30cd
FROM bars
WINDOW w AS (PARTITION BY symbol
             ORDER BY CAST(trade_date - DATE '1970-01-01' AS BIGINT)
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
""",
    "q3_liquidity_rank": BARS_SQL
    + """
, liq AS (
  SELECT symbol, CAST(SUM(close * volume) AS DOUBLE) / COUNT(*) AS avg_traded_value
  FROM bars GROUP BY symbol
)
SELECT symbol, avg_traded_value,
       CAST(DENSE_RANK() OVER (ORDER BY avg_traded_value DESC) AS INT) AS liquidity_rank
FROM liq
""",
    "q4_segment_contribution": """
WITH seg AS (
  SELECT c_mktsegment AS segment,
         SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS seg_dec
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
)
SELECT segment,
       CAST(seg_dec AS DOUBLE) AS total_value,
       CAST(seg_dec AS DOUBLE) / CAST(SUM(seg_dec) OVER () AS DOUBLE) * 100 AS pct_of_total
FROM seg
""",
    "q4b_sector_contribution": BARS_SQL
    + DIM_SQL
    + """
, seg AS (
  SELECT sector,
         SUM(close * volume) AS tv_dec,
         COUNT(DISTINCT symbol) AS n_symbols
  FROM bars JOIN dim USING (symbol)
  GROUP BY 1
)
SELECT sector,
       CAST(tv_dec AS DOUBLE) AS total_traded_value,
       CAST(tv_dec AS DOUBLE) / CAST(SUM(tv_dec) OVER () AS DOUBLE) * 100 AS pct_of_total,
       n_symbols
FROM seg
""",
    "q5_daily_returns": BARS_SQL
    + RET_SQL
    + """
SELECT trade_date,
       CAST(SUM(CAST(ret AS DECIMAL(38,10))) AS DOUBLE) / COUNT(ret) AS avg_return,
       COUNT(ret) AS n_symbols
FROM rets WHERE ret IS NOT NULL
GROUP BY trade_date
""",
    "q6_top_volume": BARS_SQL
    + """
SELECT symbol, trade_date, volume, CAST(close AS DOUBLE) AS close
FROM bars
ORDER BY volume DESC, symbol, trade_date
LIMIT 20
""",
    "q7_volatility_topk": BARS_SQL
    + RET_SQL
    + """
, agg AS (
  SELECT symbol, COUNT(ret) AS n_days,
         CAST(SUM(CAST(ret AS DECIMAL(38,10))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(floor(ret * ret * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS s2
  FROM rets WHERE ret IS NOT NULL
  GROUP BY symbol
)
SELECT symbol, n_days,
       sqrt(greatest((s2 - s1 * s1 / n_days) / (n_days - 1), 0.0)) AS volatility
FROM agg WHERE n_days >= 10
ORDER BY volatility DESC, symbol
LIMIT 10
""",
    "q8_ohlc_series": BARS_SQL
    + """
SELECT symbol, trade_date,
       CAST(open AS DOUBLE) AS open, CAST(high AS DOUBLE) AS high,
       CAST(low AS DOUBLE) AS low, CAST(close AS DOUBLE) AS close, volume
FROM bars WHERE symbol = 'P7'
""",
    "q9_price_averages": BARS_SQL
    + """
SELECT CAST(SUM(close) AS DOUBLE) / COUNT(*) AS avg_close,
       CAST(SUM(open) AS DOUBLE) / COUNT(*) AS avg_open
FROM bars
""",
    "q11_vwap": BARS_SQL
    + """
SELECT symbol,
       CAST(SUM(close * volume) AS DOUBLE) / CAST(SUM(volume) AS DOUBLE) AS vwap,
       CAST(SUM(volume) AS BIGINT) AS total_volume
FROM bars GROUP BY symbol
""",
    "q12_max_drawdown": BARS_SQL
    + """
, pk AS (
  SELECT symbol,
         CAST(close AS DOUBLE) AS c,
         CAST(MAX(close) OVER (PARTITION BY symbol ORDER BY trade_date
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS peak
  FROM bars
)
SELECT symbol, MAX((peak - c) / peak) AS max_drawdown
FROM pk GROUP BY symbol
""",
    "q13_beta": BARS_SQL
    + RET_SQL
    + """
, mkt AS (
  SELECT trade_date,
         CAST(SUM(CAST(ret AS DECIMAL(38,10))) AS DECIMAL(18,10)) AS mkt_ret
  FROM rets WHERE ret IS NOT NULL GROUP BY trade_date
), j AS (
  SELECT r.symbol, r.ret, k.mkt_ret, CAST(k.mkt_ret AS DOUBLE) AS md
  FROM rets r JOIN mkt k USING (trade_date)
  WHERE r.ret IS NOT NULL
), agg AS (
  SELECT symbol, COUNT(*) AS n_days,
         CAST(SUM(CAST(ret AS DECIMAL(38,10))) AS DOUBLE) AS sr,
         CAST(SUM(mkt_ret) AS DOUBLE) AS sm,
         CAST(SUM(CAST(floor(ret * md * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS srm,
         CAST(SUM(CAST(floor(md * md * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS smm
  FROM j GROUP BY symbol
)
SELECT symbol, n_days,
       (srm - sr * sm / n_days) / NULLIF(smm - sm * sm / n_days, 0) AS beta
FROM agg WHERE n_days >= 10
""",
    "ar1_close_autocorr": BARS_SQL + """
, pairs AS (
  SELECT symbol,
         lag(CAST(close * 100 AS BIGINT)) OVER (PARTITION BY symbol ORDER BY trade_date) AS x,
         CAST(close * 100 AS BIGINT) AS y
  FROM bars
  QUALIFY x IS NOT NULL
), m AS (
  SELECT symbol, COUNT(*) AS n_pairs,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pairs GROUP BY symbol
)
SELECT symbol, n_pairs,
       CAST(n_pairs * sxy - sx * sy AS DOUBLE)
         / CAST(n_pairs * sxx - sx * sx AS DOUBLE) AS ar1_phi
FROM m
WHERE n_pairs >= 30 AND (n_pairs * sxx - sx * sx) <> 0
ORDER BY symbol
""",
    "quantile_sketch_close": quantile_histogram_oracle_sql(
        table_expr=f"({BARS_SQL} SELECT * FROM bars)",
        val_expr="close",
        group_expr="symbol",
        group_name="symbol",
        qs={"p50_est": 0.5, "p95_est": 0.95, "p99_est": 0.99},
        lo=0.0,
        hi=120000.0,
        n_buckets=256,
    ),
    # full recompute over ALL history — the gate proves the incremental
    # merge reproduces this exactly
    "incr_symbol_totals_update": BARS_SQL + """
SELECT symbol,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(volume) AS BIGINT) AS total_volume,
       CAST(MAX(high) AS DOUBLE) AS max_high,
       CAST(MIN(low) AS DOUBLE) AS min_low
FROM bars
GROUP BY symbol
""",
    "snapshot_diff_positions": BARS_SQL + """
, old AS (
  SELECT symbol AS o_sym, close AS o_close FROM (
    SELECT symbol, close, row_number() OVER (PARTITION BY symbol ORDER BY trade_date DESC) AS rn
    FROM bars WHERE trade_date <= DATE '1997-06-30') WHERE rn = 1
), new AS (
  SELECT symbol AS n_sym, close AS n_close FROM (
    SELECT symbol, close, row_number() OVER (PARTITION BY symbol ORDER BY trade_date DESC) AS rn
    FROM bars WHERE trade_date <= DATE '1997-12-31') WHERE rn = 1
)
SELECT CASE WHEN o_sym IS NULL THEN 'added'
            WHEN n_sym IS NULL THEN 'removed'
            WHEN o_close <> n_close THEN 'changed'
            ELSE 'unchanged' END AS status,
       COUNT(*) AS n_symbols
FROM old FULL OUTER JOIN new ON o_sym = n_sym
GROUP BY 1 ORDER BY 1
""",
    "pit_band_lookup": BARS_SQL + """
, banded AS (
  SELECT symbol, trade_date,
         CASE WHEN close < 1000 THEN 'low'
              WHEN close < 10000 THEN 'mid'
              ELSE 'high' END AS band
  FROM bars
), marked AS (
  SELECT symbol, trade_date, band,
         lag(band) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_band
  FROM banded
), changes AS (
  SELECT symbol, trade_date, band FROM marked
  WHERE prev_band IS NULL OR band <> prev_band
), hist AS (
  SELECT symbol AS h_sym, band, trade_date AS effective_from,
         lead(trade_date) OVER (PARTITION BY symbol ORDER BY trade_date)
           - INTERVAL 1 DAY AS effective_to
  FROM changes
), july AS (
  SELECT symbol, trade_date FROM bars
  WHERE trade_date >= DATE '1997-07-01' AND trade_date < DATE '1997-08-01'
)
SELECT band, COUNT(*) AS n_bar_days, CAST(COUNT(DISTINCT symbol) AS BIGINT) AS n_symbols
FROM july JOIN hist ON symbol = h_sym
  AND effective_from <= trade_date
  AND (effective_to IS NULL OR trade_date <= effective_to)
GROUP BY band ORDER BY band
""",
    "scd2_price_bands": BARS_SQL + """
, banded AS (
  SELECT symbol, trade_date,
         CASE WHEN close < 1000 THEN 'low'
              WHEN close < 10000 THEN 'mid'
              ELSE 'high' END AS band
  FROM bars
), marked AS (
  SELECT symbol, trade_date, band,
         lag(band) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_band
  FROM banded
), changes AS (
  SELECT symbol, trade_date, band FROM marked
  WHERE prev_band IS NULL OR band <> prev_band
)
SELECT symbol, band, trade_date AS effective_from,
       lead(trade_date) OVER (PARTITION BY symbol ORDER BY trade_date)
         - INTERVAL 1 DAY AS effective_to
FROM changes
ORDER BY symbol, effective_from
""",
    "islands_trading_streaks": BARS_SQL + """
, isl AS (
  SELECT symbol,
         trade_date - CAST(row_number() OVER (PARTITION BY symbol ORDER BY trade_date) AS INT) AS island,
         COUNT(*) OVER () AS _dummy, trade_date
  FROM bars
), grouped AS (
  SELECT symbol, island, COUNT(*) AS streak_days,
         MIN(trade_date) AS streak_start, MAX(trade_date) AS streak_end
  FROM isl GROUP BY 1, 2
), best AS (
  SELECT *, row_number() OVER (PARTITION BY symbol
                               ORDER BY streak_days DESC, streak_start) AS rn
  FROM grouped
)
SELECT symbol, streak_days, streak_start, streak_end
FROM best WHERE rn = 1 ORDER BY symbol
""",
    "pattern_down_streaks": BARS_SQL + """
, d AS (
  SELECT symbol, trade_date,
         close < lag(close) OVER w AS down,
         row_number() OVER w AS rn
  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
), runs AS (
  SELECT symbol,
         rn - row_number() OVER (PARTITION BY symbol ORDER BY rn) AS run_key,
         COUNT(*) OVER () AS _dummy
  FROM d WHERE down
), rl AS (
  SELECT symbol, run_key, COUNT(*) AS run_len FROM runs GROUP BY 1, 2
)
SELECT symbol, CAST(MAX(run_len) AS INT) AS max_down_streak,
       CAST(SUM(greatest(run_len - 2, 0)) AS BIGINT) AS n_days_depth3plus
FROM rl GROUP BY symbol ORDER BY symbol
""",
    "q16_trend_slope": BARS_SQL
    + """
, m AS (
  SELECT symbol, COUNT(*) AS n_days,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM (SELECT symbol,
               CAST(date_diff('day', DATE '1998-01-01', trade_date) AS BIGINT) AS x,
               CAST(close * 100 AS BIGINT) AS y
        FROM bars)
  GROUP BY symbol
), s AS (
  SELECT symbol, n_days, sx, sy,
         CAST(n_days * sxy - sx * sy AS DOUBLE)
           / CAST(n_days * sxx - sx * sx AS DOUBLE) / 100.0 AS slope_per_day
  FROM m WHERE n_days >= 30
)
SELECT symbol, n_days, slope_per_day,
       (CAST(sy AS DOUBLE) / 100.0 - slope_per_day * sx) / n_days AS price_at_epoch
FROM s ORDER BY symbol
""",
    "q20_bollinger": BARS_SQL
    + """
, m AS (
  SELECT symbol, trade_date,
         COUNT(*) OVER w20 AS n_obs,
         CAST(SUM(CAST(close * 100 AS BIGINT)) OVER w20 AS BIGINT) AS sy,
         CAST(SUM(CAST(close * 100 AS BIGINT) * CAST(close * 100 AS BIGINT))
              OVER w20 AS BIGINT) AS syy
  FROM bars
  WINDOW w20 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date,
       CAST(sy AS DOUBLE) / CAST(n_obs * 100 AS DOUBLE) AS sma_20,
       CAST(sy AS DOUBLE) / CAST(n_obs * 100 AS DOUBLE)
         + 2 * (sqrt(CAST(n_obs * syy - sy * sy AS DOUBLE))
                / CAST(n_obs * 100 AS DOUBLE)) AS upper_band,
       CAST(sy AS DOUBLE) / CAST(n_obs * 100 AS DOUBLE)
         - 2 * (sqrt(CAST(n_obs * syy - sy * sy AS DOUBLE))
                / CAST(n_obs * 100 AS DOUBLE)) AS lower_band
FROM m WHERE n_obs >= 20
""",
    "q21_stochastic": BARS_SQL
    + """
, r AS (
  SELECT symbol, trade_date,
         COUNT(*) OVER w14 AS n_obs,
         CAST(close * 10000 AS BIGINT) AS cu,
         MAX(CAST(high * 10000 AS BIGINT)) OVER w14 AS hh,
         MIN(CAST(low * 10000 AS BIGINT)) OVER w14 AS ll
  FROM bars
  WINDOW w14 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), k AS (
  SELECT symbol, trade_date,
         CAST(100000000 AS BIGINT) * (cu - ll) // (hh - ll) AS kq
  FROM r WHERE n_obs >= 14 AND hh > ll
), s AS (
  SELECT symbol, trade_date, kq,
         COUNT(*) OVER w3 AS n3,
         CAST(SUM(kq) OVER w3 AS BIGINT) AS skq
  FROM k
  WINDOW w3 AS (PARTITION BY symbol ORDER BY trade_date
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date,
       CAST(kq AS DOUBLE) / 1000000.0 AS pct_k,
       CAST(skq // 3 AS DOUBLE) / 1000000.0 AS pct_d
FROM s WHERE n3 >= 3
""",
    "q22_atr": BARS_SQL
    + """
, d AS (
  SELECT symbol, trade_date,
         greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
  FROM (
    SELECT symbol, trade_date, high, low,
           lag(close) OVER (PARTITION BY symbol ORDER BY trade_date) AS pc
    FROM bars
  ) WHERE pc IS NOT NULL
), r AS (
  SELECT symbol, trade_date,
         COUNT(*) OVER w14 AS n_obs,
         CAST(SUM(tr) OVER w14 * 10000 AS BIGINT) AS str_units
  FROM d
  WINDOW w14 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date,
       CAST((CAST(1000 AS BIGINT) * str_units) // n_obs AS DOUBLE)
         / 10000000.0 AS atr_14
FROM r WHERE n_obs >= 14
""",
    "q23_obv": BARS_SQL
    + """
, d AS (
  SELECT symbol, trade_date,
         CASE WHEN close - lag(close) OVER w > 0 THEN CAST(volume AS BIGINT)
              WHEN close - lag(close) OVER w < 0 THEN -CAST(volume AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS sv
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
)
SELECT symbol, trade_date,
       CAST(SUM(sv) OVER (PARTITION BY symbol ORDER BY trade_date
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
FROM d
""",
    "q24_macd": BARS_SQL
    + """
, lst AS (
  SELECT symbol, trade_date,
         list_reverse(list(CAST(close * 10000 AS BIGINT)) OVER w30) AS rev
  FROM bars
  WINDOW w30 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
), m AS (
  SELECT symbol, trade_date,
         (CAST(CAST(list_sum(list_transform(rev, (x, i) -> x * ([1000000, 846154, 715976, 605826, 512622, 433757, 367025, 310560, 262781, 222354, 188145, 159200, 134708, 113983, 96447, 81609, 69054, 58430, 49441, 41835, 35399, 29953, 25345, 21445, 18146, 15354, 12992, 10993, 9302, 7871])[i])) AS BIGINT) AS DOUBLE) / CAST(CAST(([1000000, 1846154, 2562130, 3167956, 3680578, 4114335, 4481360, 4791920, 5054701, 5277055, 5465200, 5624400, 5759108, 5873091, 5969538, 6051147, 6120201, 6178631, 6228072, 6269907, 6305306, 6335259, 6360604, 6382049, 6400195, 6415549, 6428541, 6439534, 6448836, 6456707])[len(rev)] AS BIGINT) AS DOUBLE)
          - CAST(CAST(list_sum(list_transform(rev, (x, i) -> x * ([1000000, 925926, 857339, 793832, 735030, 680583, 630170, 583490, 540269, 500249, 463193, 428883, 397114, 367698, 340461, 315242, 291890, 270269, 250249, 231712, 214548, 198656, 183941, 170315, 157699, 146018, 135202, 125187, 115914, 107328])[i])) AS BIGINT) AS DOUBLE) / CAST(CAST(([1000000, 1925926, 2783265, 3577097, 4312127, 4992710, 5622880, 6206370, 6746639, 7246888, 7710081, 8138964, 8536078, 8903776, 9244237, 9559479, 9851369, 10121638, 10371887, 10603599, 10818147, 11016803, 11200744, 11371059, 11528758, 11674776, 11809978, 11935165, 12051079, 12158407])[len(rev)] AS BIGINT) AS DOUBLE)) / 10000.0 AS macd
  FROM lst
), m2 AS (
  SELECT symbol, trade_date, macd,
         list_reverse(list(CAST(round(macd * 10000) AS BIGINT)) OVER w30) AS rev2
  FROM m
  WINDOW w30 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
), sig AS (
  SELECT symbol, trade_date, macd,
         CAST(CAST(list_sum(list_transform(rev2, (x, i) -> x * ([1000000, 800000, 640000, 512000, 409600, 327680, 262144, 209715, 167772, 134218, 107374, 85899, 68719, 54976, 43980, 35184, 28147, 22518, 18014, 14412, 11529, 9223, 7379, 5903, 4722, 3778, 3022, 2418, 1934, 1547])[i])) AS BIGINT) AS DOUBLE) / CAST(CAST(([1000000, 1800000, 2440000, 2952000, 3361600, 3689280, 3951424, 4161139, 4328911, 4463129, 4570503, 4656402, 4725121, 4780097, 4824077, 4859261, 4887408, 4909926, 4927940, 4942352, 4953881, 4963104, 4970483, 4976386, 4981108, 4984886, 4987908, 4990326, 4992260, 4993807])[len(rev2)] AS BIGINT) AS DOUBLE) / 10000.0 AS signal
  FROM m2
)
SELECT symbol, trade_date, macd, signal, macd - signal AS histogram
FROM sig
""",
    "q25_donchian": BARS_SQL
    + """
, r AS (
  SELECT symbol, trade_date,
         COUNT(*) OVER w20 AS n_obs,
         MAX(CAST(high * 10000 AS BIGINT)) OVER w20 AS hh,
         MIN(CAST(low * 10000 AS BIGINT)) OVER w20 AS ll
  FROM bars
  WINDOW w20 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date,
       CAST(hh AS DOUBLE) / 10000.0 AS upper_ch,
       CAST(ll AS DOUBLE) / 10000.0 AS lower_ch,
       CAST(hh + ll AS DOUBLE) / 20000.0 AS mid_ch
FROM r WHERE n_obs >= 20
""",
    "q26_williams_r": BARS_SQL
    + """
, r AS (
  SELECT symbol, trade_date,
         COUNT(*) OVER w14 AS n_obs,
         CAST(close * 10000 AS BIGINT) AS cu,
         MAX(CAST(high * 10000 AS BIGINT)) OVER w14 AS hh,
         MIN(CAST(low * 10000 AS BIGINT)) OVER w14 AS ll
  FROM bars
  WINDOW w14 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date,
       -(CAST(CAST(100000000 AS BIGINT) * (hh - cu) // (hh - ll) AS DOUBLE))
         / 1000000.0 AS pct_r
FROM r WHERE n_obs >= 14 AND hh > ll
""",
    "q27_roc": BARS_SQL
    + """
, r AS (
  SELECT symbol, trade_date,
         CAST(close * 10000 AS BIGINT) AS cu,
         lag(CAST(close * 10000 AS BIGINT), 12)
           OVER (PARTITION BY symbol ORDER BY trade_date) AS pu
  FROM bars
)
SELECT symbol, trade_date,
       CAST(CAST(100000000 AS BIGINT) * cu // pu
            - CAST(100000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS roc_12
FROM r WHERE pu IS NOT NULL AND pu > 0
""",
    "q28_keltner": BARS_SQL
    + f"""
, lst AS (
  SELECT symbol, trade_date,
         list_reverse(list(CAST(close * 10000 AS BIGINT)) OVER w30) AS rev
  FROM bars
  WINDOW w30 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
), ema AS (
  SELECT symbol, trade_date,
         CAST(CAST(list_sum(list_transform(rev, (x, i) -> x * ({_KELT_W}[i])))
                   AS BIGINT) AS DOUBLE)
           / CAST(CAST(({_KELT_DEN}[len(rev)]) AS BIGINT) AS DOUBLE)
           / 10000.0 AS ema20
  FROM lst
), d AS (
  SELECT symbol, trade_date,
         greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
  FROM (
    SELECT symbol, trade_date, high, low,
           lag(close) OVER (PARTITION BY symbol ORDER BY trade_date) AS pc
    FROM bars
  ) WHERE pc IS NOT NULL
), r AS (
  SELECT symbol, trade_date,
         COUNT(*) OVER w10 AS n_obs,
         CAST(SUM(tr) OVER w10 * 10000 AS BIGINT) AS str_units
  FROM d
  WINDOW w10 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
), atr AS (
  SELECT symbol, trade_date,
         CAST((CAST(1000 AS BIGINT) * str_units) // n_obs AS DOUBLE)
           / 10000000.0 AS atr10
  FROM r WHERE n_obs >= 10
)
SELECT e.symbol, e.trade_date,
       e.ema20 AS mid_line,
       e.ema20 + 2 * a.atr10 AS upper_ch,
       e.ema20 - 2 * a.atr10 AS lower_ch
FROM ema e JOIN atr a ON e.symbol = a.symbol AND e.trade_date = a.trade_date
""",
    "q29_pivot_points": BARS_SQL
    + """
, r AS (
  SELECT symbol, trade_date,
         lag(CAST(high * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS hu,
         lag(CAST(low * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS lu,
         lag(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS cu
  FROM bars
)
SELECT symbol, trade_date,
       CAST(hu + lu + cu AS DOUBLE) / 30000.0 AS pivot,
       2 * (CAST(hu + lu + cu AS DOUBLE) / 30000.0)
         - CAST(lu AS DOUBLE) / 10000.0 AS r1,
       2 * (CAST(hu + lu + cu AS DOUBLE) / 30000.0)
         - CAST(hu AS DOUBLE) / 10000.0 AS s1,
       (CAST(hu + lu + cu AS DOUBLE) / 30000.0)
         + (CAST(hu AS DOUBLE) / 10000.0 - CAST(lu AS DOUBLE) / 10000.0) AS r2,
       (CAST(hu + lu + cu AS DOUBLE) / 30000.0)
         - (CAST(hu AS DOUBLE) / 10000.0 - CAST(lu AS DOUBLE) / 10000.0) AS s2
FROM r WHERE hu IS NOT NULL
""",
    "q30_sharpe": BARS_SQL
    + """
, r AS (
  SELECT symbol,
         CAST(close * 10000 AS BIGINT) AS cu,
         lag(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS pu
  FROM bars
), rq AS (
  SELECT symbol,
         greatest(CAST(-50000 AS BIGINT), least(CAST(50000 AS BIGINT),
           CAST(10000 AS BIGINT) * cu // pu - CAST(10000 AS BIGINT))) AS rq
  FROM r WHERE pu IS NOT NULL AND pu > 0
), m AS (
  SELECT symbol, COUNT(*) AS n_days,
         CAST(SUM(rq) AS BIGINT) AS s1,
         CAST(SUM(rq * rq) AS BIGINT) AS s2
  FROM rq GROUP BY 1
)
SELECT symbol, n_days,
       CAST(s1 AS DOUBLE) / n_days / 100.0 AS mean_ret_pct,
       CAST(s1 AS DOUBLE) / sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE))
         * sqrt(252.0) AS ann_sharpe
FROM m WHERE n_days >= 30
""",
    "q34_sortino": BARS_SQL
    + """
, r AS (
  SELECT symbol,
         CAST(close * 10000 AS BIGINT) AS cu,
         lag(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS pu
  FROM bars
), rq AS (
  SELECT symbol,
         greatest(CAST(-50000 AS BIGINT), least(CAST(50000 AS BIGINT),
           CAST(10000 AS BIGINT) * cu // pu - CAST(10000 AS BIGINT))) AS rq
  FROM r WHERE pu IS NOT NULL AND pu > 0
), m AS (
  SELECT symbol, COUNT(*) AS n_days,
         CAST(SUM(rq) AS BIGINT) AS s1,
         CAST(SUM(least(rq, 0) * least(rq, 0)) AS BIGINT) AS sd2,
         COUNT(*) FILTER (WHERE rq < 0) AS n_down
  FROM rq GROUP BY 1
)
SELECT symbol, n_days, n_down,
       CAST(s1 AS DOUBLE) / sqrt(CAST(n_days * sd2 AS DOUBLE))
         * sqrt(252.0) AS ann_sortino
FROM m WHERE n_days >= 30 AND sd2 > 0
""",
    "q31_var_es": BARS_SQL
    + """
, r AS (
  SELECT symbol, trade_date,
         CAST(close * 10000 AS BIGINT) AS cu,
         lag(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS pu
  FROM bars
), rq AS (
  SELECT symbol, trade_date,
         CAST(100000000 AS BIGINT) * cu // pu - CAST(100000000 AS BIGINT) AS rq
  FROM r WHERE pu IS NOT NULL AND pu > 0
), ranked AS (
  SELECT symbol, rq,
         row_number() OVER (PARTITION BY symbol ORDER BY rq, trade_date) AS rn,
         COUNT(*) OVER (PARTITION BY symbol) AS n_days
  FROM rq
), worst AS (
  SELECT * FROM ranked WHERE rn <= 1 + (n_days - 1) * 5 // 100
), agg AS (
  SELECT symbol,
         MAX(n_days) AS n_days,
         COUNT(*) AS k,
         MAX(CASE WHEN rn = 1 + (n_days - 1) * 5 // 100 THEN rq END) AS var_units,
         CAST(SUM(rq) AS BIGINT) AS sum_worst
  FROM worst GROUP BY 1
)
SELECT symbol, n_days,
       CAST(var_units AS DOUBLE) / 1000000.0 AS var5_pct,
       CAST((CAST(1000 AS BIGINT) * sum_worst) // k AS DOUBLE)
         / 1000000000.0 AS es5_pct
FROM agg WHERE n_days >= 30
""",
    "q32_seasonality": BARS_SQL
    + """
, mon AS (
  SELECT symbol, CAST(month(trade_date) AS INT) AS month,
         COUNT(*) AS n_days,
         CAST(SUM(CAST(close * 10000 AS BIGINT)) AS BIGINT) AS scu
  FROM bars GROUP BY 1, 2
), tot AS (
  SELECT symbol, CAST(SUM(n_days) AS BIGINT) AS tn,
         CAST(SUM(scu) AS BIGINT) AS ts
  FROM mon GROUP BY 1
)
SELECT m.symbol, m.month, m.n_days,
       CAST((CAST(1000 AS BIGINT) * m.scu) // m.n_days AS DOUBLE)
         / 10000000.0 AS month_avg,
       CAST((CAST(1000 AS BIGINT) * m.scu) // m.n_days AS DOUBLE)
         / CAST((CAST(1000 AS BIGINT) * t.ts) // t.tn AS DOUBLE) AS season_index
FROM mon m JOIN tot t ON m.symbol = t.symbol
""",
    "q33_market_breadth": BARS_SQL
    + """
, d AS (
  SELECT symbol, trade_date,
         CAST(close * 10000 AS BIGINT) AS cu,
         lag(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date) AS pu
  FROM bars
), agg AS (
  SELECT trade_date,
         COUNT(*) FILTER (WHERE cu > pu) AS n_adv,
         COUNT(*) FILTER (WHERE cu < pu) AS n_dec,
         COUNT(*) FILTER (WHERE cu = pu) AS n_unch
  FROM d WHERE pu IS NOT NULL
  GROUP BY 1
)
SELECT trade_date, n_adv, n_dec, n_unch,
       CAST((CAST(1000000 AS BIGINT) * n_adv) // (n_adv + n_dec) AS DOUBLE)
         / 10000.0 AS adv_share_pct
FROM agg WHERE (n_adv + n_dec) > 0
""",
    "q19_ewma": BARS_SQL
    + """
, lst AS (
  SELECT symbol, trade_date,
         list_reverse(list(CAST(close * 10000 AS BIGINT))
           OVER (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)) AS rev
  FROM bars
)
SELECT symbol, trade_date,
       CAST(CAST(list_sum(list_transform(rev, (x, i) -> x * ([1000000, 818182, 669421, 547708, 448125, 366648, 299985, 245442, 200816, 164304, 134431, 109989, 89991, 73629, 60242, 49289, 40327, 32995, 26996, 22088, 18072, 14786, 12098, 9898, 8098, 6626, 5421, 4436, 3629, 2969])[i]))
                 AS BIGINT) AS DOUBLE)
         / (CAST(([1000000, 1818182, 2487603, 3035311, 3483436, 3850084, 4150069, 4395511, 4596327, 4760631, 4895062, 5005051, 5095042, 5168671, 5228913, 5278202, 5318529, 5351524, 5378520, 5400608, 5418680, 5433466, 5445564, 5455462, 5463560, 5470186, 5475607, 5480043, 5483672, 5486641])[len(rev)] AS BIGINT) * 10000) AS ewma_10
FROM lst
""",
    "q15_rsi": BARS_SQL
    + """
, d AS (
  SELECT symbol, trade_date,
         greatest(close - lag(close) OVER w, CAST(0 AS DECIMAL(18,4))) AS gain,
         greatest(-(close - lag(close) OVER w), CAST(0 AS DECIMAL(18,4))) AS loss
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
  QUALIFY (close - lag(close) OVER w) IS NOT NULL
), roll AS (
  SELECT symbol, trade_date,
         COUNT(*) OVER w14 AS n_obs,
         SUM(gain) OVER w14 AS sg,
         SUM(loss) OVER w14 AS sl
  FROM d
  WINDOW w14 AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), scaled AS (
  SELECT symbol, trade_date,
         CAST(sg * 10000 AS BIGINT) AS g_units,
         CAST((sg + sl) * 10000 AS BIGINT) AS d_units
  FROM roll WHERE n_obs >= 14
)
SELECT symbol, trade_date,
       CAST(100000000 * g_units // d_units AS DOUBLE) / 1000000.0 AS rsi_14
FROM scaled WHERE d_units > 0
""",
    "q14_top_corr_pairs": BARS_SQL
    + """
, top AS (
  SELECT symbol FROM (
    SELECT symbol, CAST(SUM(volume) AS BIGINT) AS tv FROM bars GROUP BY symbol
  ) ORDER BY tv DESC, symbol LIMIT 20
), mc AS (
  SELECT b.symbol, date_trunc('month', b.trade_date) AS month,
         arg_max(CAST(b.close * 100 AS BIGINT), b.trade_date) AS cu
  FROM bars b JOIN top USING (symbol)
  GROUP BY 1, 2
), fr AS (
  SELECT symbol, month,
         CAST(cu - lag(cu) OVER w AS DOUBLE)
           / CAST(lag(cu) OVER w AS DOUBLE) AS ret
  FROM mc
  WINDOW w AS (PARTITION BY symbol ORDER BY month)
  QUALIFY ret IS NOT NULL
), p AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.ret AS ra, b.ret AS rb
  FROM fr a JOIN fr b ON a.month = b.month AND a.symbol < b.symbol
), m AS (
  SELECT sym_a, sym_b, COUNT(*) AS n_months,
         CAST(SUM(CAST(ra AS DECIMAL(38,10))) AS DOUBLE) AS sa,
         CAST(SUM(CAST(rb AS DECIMAL(38,10))) AS DOUBLE) AS sb,
         CAST(SUM(CAST(ra * rb AS DECIMAL(38,9))) AS DOUBLE) AS sab,
         CAST(SUM(CAST(ra * ra AS DECIMAL(38,9))) AS DOUBLE) AS saa,
         CAST(SUM(CAST(rb * rb AS DECIMAL(38,9))) AS DOUBLE) AS sbb
  FROM p GROUP BY 1, 2
), c AS (
  SELECT sym_a, sym_b, n_months,
         (n_months * sab - sa * sb) /
         NULLIF(sqrt(greatest(n_months * saa - sa * sa, 0.0)) *
                sqrt(greatest(n_months * sbb - sb * sb, 0.0)), 0.0) AS corr
  FROM m WHERE n_months >= 10
)
SELECT sym_a, sym_b, n_months, corr
FROM c WHERE corr IS NOT NULL
ORDER BY abs(corr) DESC, sym_a, sym_b
LIMIT 10
""",
    "flagship_liquidity_top20": BARS_SQL
    + """
, rolled AS (
  SELECT symbol, trade_date,
         CAST(SUM(close * volume) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_traded_value_30d,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date DESC) AS rn
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
SELECT symbol, trade_date AS as_of_date, avg_traded_value_30d,
       CAST(DENSE_RANK() OVER (ORDER BY avg_traded_value_30d DESC) AS INT) AS liquidity_rank
FROM rolled WHERE rn = 1
ORDER BY avg_traded_value_30d DESC, symbol
LIMIT 20
""",
}
