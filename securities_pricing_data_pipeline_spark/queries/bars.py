"""Derive OHLCV daily bars from the driver's `lineitem` table.

The reference's unit of data is a daily OHLCV bar per symbol
(``dags/lib/eod_data_downloader.py:52-59``). The driver's testdata is
TPC-H-ish, so this adapter maps lineitem → bars deterministically:

  symbol      'P' + l_partkey            (~2k symbols at sf0.01 — same order
                                          of magnitude as the reference's
                                          6,227 active symbols/day)
  trade_date  date(l_shipdate)
  open/close  extendedprice of the first/last line that day, ordered by the
              unique line sequence (l_orderkey·10 + l_linenumber)
  high/low    max/min extendedprice
  volume      Σ quantity (integral)

Every aggregate here is order-independent (min/max/min_by/max_by on a
unique ordering key, integer sum) → bit-exact against the DuckDB oracle.
Prices are snapped to DECIMAL(18,4) once at bar level; all downstream
serving math follows helpers.py's parity discipline.

Scale note: this is a single hash-aggregate over (symbol, date) — at 100 TB
it shuffles once on the group key; partial aggregation (map-side combine)
does the heavy lifting since ~24 lines collapse per bar. No window, no skew
(part keys are uniform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from securities_pricing_data_pipeline_spark.queries.helpers import load, silver

PRICE4 = T.DecimalType(18, 4)

# shared CTE prefix for every oracle that builds on bars
BARS_SQL = """
WITH bars AS (
  SELECT
    'P' || CAST(l_partkey AS VARCHAR)                                          AS symbol,
    CAST(l_shipdate AS DATE)                                                   AS trade_date,
    CAST(arg_min(l_extendedprice, l_orderkey * 10 + l_linenumber) AS DECIMAL(18,4)) AS open,
    CAST(max(l_extendedprice) AS DECIMAL(18,4))                                AS high,
    CAST(min(l_extendedprice) AS DECIMAL(18,4))                                AS low,
    CAST(arg_max(l_extendedprice, l_orderkey * 10 + l_linenumber) AS DECIMAL(18,4)) AS close,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)                            AS volume
  FROM lineitem
  GROUP BY 1, 2
)
"""


def bars_df(spark: SparkSession, sf_dir: str, partkeys: list[int] | None = None) -> DataFrame:
    """``partkeys`` pre-filters on the raw ``l_partkey`` column so the
    predicate reaches the parquet scan (PushedFilters + row-group stats
    pruning); filtering the derived ``symbol`` string post-agg cannot be
    pushed through the concat."""
    li = load(spark, sf_dir, "lineitem")
    if partkeys is not None:
        li = li.filter(F.col("l_partkey").isin(partkeys))
    seq = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return (
        li.groupBy(
            F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("symbol"),
            F.col("l_shipdate").cast("date").alias("trade_date"),
        ).agg(
            F.min_by("l_extendedprice", seq).cast(PRICE4).alias("open"),
            F.max("l_extendedprice").cast(PRICE4).alias("high"),
            F.min("l_extendedprice").cast(PRICE4).alias("low"),
            F.max_by("l_extendedprice", seq).cast(PRICE4).alias("close"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("volume"),
        )
    )


@silver
def bars_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared materialized bars: serving queries read this silver, not
    raw rows. First caller pays the lineitem scan + aggregate; every
    later serving query in the session reuses it."""
    from pyspark import StorageLevel

    # r15 (guide §2.4 — remove shuffles outright; §6 — layout for the
    # readers): ~25 serving queries window/group this silver BY SYMBOL,
    # and each paid its own Exchange hashpartitioning(symbol) per run.
    # Worse, AQE coalesces that tiny (~2 MB at bench sf) exchange by
    # BYTES, blind to the 30-lag window expressions above it, so the
    # compute-dense indicator family ran near-single-core (r14 tried a
    # session-wide 64k minPartitionSize floor to counter this; the r15
    # paired A/B showed the floor costs more suite-wide than it buys).
    # Persisting the silver hash-partitioned by symbol at the session's
    # configured width removes the consumers' exchange entirely — the
    # cached InMemoryTableScan reports hashpartitioning(symbol, n), so
    # EnsureRequirements is satisfied and there is no shuffle left for
    # AQE to under-parallelize; the sortWithinPartitions lets the
    # cached plan's outputOrdering absorb the window Sort too. One
    # build-time exchange buys every symbol-keyed consumer's back.
    # repartition(n, key) is REPARTITION_BY_NUM — AQE never coalesces
    # it — and n follows spark.sql.shuffle.partitions (cluster-sized
    # in production, core count locally): the bucketed-silver layout,
    # in-session.
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = (
        bars_df(spark, sf_dir)
        .repartition(n, "symbol")
        .sortWithinPartitions("symbol", "trade_date")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # materialize at build (the _copurchase_edges precedent): until
    # the cache is materialized the AQE-wrapped cached plan reports
    # no output partitioning, so the FIRST consumer would plan (and
    # execute) a defensive symbol exchange; after this count() every
    # consumer — including the first — sees hashpartitioning(symbol,
    # n) + the sort order and plans no exchange and no sort.
    df.count()
    return df


def q_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/A-style derivation exposed as a query (prices as double for a
    cross-engine-stable output schema). Reads the shared silver
    materialization — this query IS the silver table's contents."""
    b = bars_silver(spark, sf_dir)
    return b.select(
        "symbol",
        "trade_date",
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        "volume",
    )


def q_bars_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup: weekly AND monthly OHLCV bars from the
    daily silver in ONE pass via GROUPING SETS (the hypertable-rollup
    pattern). Open/close picked by first/last trading day in the period
    (min_by/max_by on trade_date — deterministic, one row per symbol-day).

    Scale note: GROUPING SETS expands each input row once per set inside
    the hash aggregate (2× map-side rows here) but shuffles ONCE on the
    grouping key — vs. two separate groupBy jobs re-reading the silver.
    At 100 TB the rollup output is ~1/5 (weekly) + ~1/21 (monthly) of
    daily-bar cardinality, so partial aggregation collapses almost all of
    it before the exchange."""
    b = bars_silver(spark, sf_dir).withColumns(
        {
            "week_start": F.date_trunc("week", F.col("trade_date")).cast("date"),
            "month_start": F.date_trunc("month", F.col("trade_date")).cast("date"),
        }
    )
    return (
        b.groupingSets(
            [["symbol", "week_start"], ["symbol", "month_start"]],
            "symbol",
            "week_start",
            "month_start",
        )
        .agg(
            F.min_by("open", "trade_date").cast("double").alias("open"),
            F.max("high").cast("double").alias("high"),
            F.min("low").cast("double").alias("low"),
            F.max_by("close", "trade_date").cast("double").alias("close"),
            F.sum("volume").alias("volume"),
            F.count("*").alias("n_days"),
            F.grouping("week_start").alias("_g_week"),
        )
        .select(
            "symbol",
            F.when(F.col("_g_week") == 0, F.lit("week")).otherwise(F.lit("month")).alias("grain"),
            F.coalesce("week_start", "month_start").alias("period_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_days",
        )
    )


def q_bars_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + LOCF: build each symbol's continuous daily date
    spine (``sequence`` + ``explode`` — generated, never collected), left
    join the observed bars, and carry the last close forward
    (``last(ignorenulls)`` over an unbounded-preceding row frame). The
    canonical series-alignment op for sparse instruments: downstream
    windows then see one row per calendar day. Spine generation is
    per-symbol (no cross-symbol state), so it scales with the symbol count;
    the partkey pushdown keeps this query's scan pruned."""
    b = bars_df(spark, sf_dir, partkeys=[3, 7, 11, 19]).select("symbol", "trade_date", "close")
    rng = b.groupBy("symbol").agg(
        F.min("trade_date").alias("d0"), F.max("trade_date").alias("d1")
    )
    spine = rng.select(
        "symbol",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("trade_date"),
    )
    joined = spine.join(b, ["symbol", "trade_date"], "left")
    w = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "symbol",
        "trade_date",
        F.last(F.col("close").cast("double"), ignorenulls=True).over(w).alias("close_filled"),
        F.col("close").isNotNull().alias("is_observed"),
    )


def q_bars_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + LINEAR INTERPOLATION — the second of the two
    canonical series-alignment fills (LOCF above; Timescale exposes the
    pair as ``locf()``/``interpolate()``). Each missing day gets
    ``prev + (next - prev) · elapsed/span`` between its bracketing
    observations.

    Both brackets come from frame-bounded window functions on the same
    sort — ``last(ignorenulls)`` over unbounded-preceding for the previous
    observation, ``first(ignorenulls)`` over current-to-unbounded-following
    for the next — so the whole fill is two window passes over one
    per-symbol sort, no self-join against the observation set. The spine
    spans each symbol's own [min, max] observed dates, so interior rows
    always have both brackets (edge rows are themselves observed).

    Parity note: the interpolation arithmetic is written in the exact same
    operation order as the DuckDB oracle (single fused
    ``prev + (next-prev)·(elapsed/span)`` over IEEE doubles), which makes
    the comparison bit-exact, not approximately-equal."""
    b = bars_df(spark, sf_dir, partkeys=[3, 7, 11, 19]).select("symbol", "trade_date", "close")
    rng = b.groupBy("symbol").agg(
        F.min("trade_date").alias("d0"), F.max("trade_date").alias("d1")
    )
    spine = rng.select(
        "symbol",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("trade_date"),
    )
    joined = spine.join(b, ["symbol", "trade_date"], "left")
    w_prev = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_next = Window.partitionBy("symbol").orderBy("trade_date").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs = F.col("close").isNotNull()
    prev_close = F.last(F.col("close").cast("double"), ignorenulls=True).over(w_prev)
    prev_date = F.last(F.when(obs, F.col("trade_date")), ignorenulls=True).over(w_prev)
    next_close = F.first(F.col("close").cast("double"), ignorenulls=True).over(w_next)
    next_date = F.first(F.when(obs, F.col("trade_date")), ignorenulls=True).over(w_next)
    elapsed = F.datediff(F.col("trade_date"), prev_date).cast("double")
    span = F.datediff(next_date, prev_date).cast("double")
    interp = prev_close + (next_close - prev_close) * (elapsed / span)
    return joined.select(
        "symbol",
        "trade_date",
        F.when(obs, F.col("close").cast("double")).otherwise(interp).alias("close_interp"),
        obs.alias("is_observed"),
    )


QUERIES = {
    "bars_ohlcv": q_bars,
    "bars_rollup_multigrain": q_bars_rollup,
    "bars_gapfill_locf": q_bars_gapfill,
    "bars_gapfill_interp": q_bars_gapfill_interp,
}

ORACLES = {
    "bars_gapfill_locf": """
WITH fbars AS (
  SELECT 'P' || CAST(l_partkey AS VARCHAR) AS symbol,
         CAST(l_shipdate AS DATE) AS trade_date,
         CAST(arg_max(l_extendedprice, l_orderkey * 10 + l_linenumber) AS DECIMAL(18,4)) AS close
  FROM lineitem
  WHERE l_partkey IN (3, 7, 11, 19)
  GROUP BY 1, 2
), rng AS (
  SELECT symbol, MIN(trade_date) AS d0, MAX(trade_date) AS d1 FROM fbars GROUP BY symbol
), spine AS (
  SELECT symbol,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS trade_date
  FROM rng
), j AS (
  SELECT s.symbol, s.trade_date, b.close
  FROM spine s LEFT JOIN fbars b USING (symbol, trade_date)
)
SELECT symbol, trade_date,
       last_value(CAST(close AS DOUBLE) IGNORE NULLS)
         OVER (PARTITION BY symbol ORDER BY trade_date
               ROWS UNBOUNDED PRECEDING) AS close_filled,
       close IS NOT NULL AS is_observed
FROM j
""",
    "bars_gapfill_interp": """
WITH fbars AS (
  SELECT 'P' || CAST(l_partkey AS VARCHAR) AS symbol,
         CAST(l_shipdate AS DATE) AS trade_date,
         CAST(arg_max(l_extendedprice, l_orderkey * 10 + l_linenumber) AS DECIMAL(18,4)) AS close
  FROM lineitem
  WHERE l_partkey IN (3, 7, 11, 19)
  GROUP BY 1, 2
), rng AS (
  SELECT symbol, MIN(trade_date) AS d0, MAX(trade_date) AS d1 FROM fbars GROUP BY symbol
), spine AS (
  SELECT symbol,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS trade_date
  FROM rng
), j AS (
  SELECT s.symbol, s.trade_date, b.close
  FROM spine s LEFT JOIN fbars b USING (symbol, trade_date)
), bracketed AS (
  SELECT symbol, trade_date, close,
         last_value(CAST(close AS DOUBLE) IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY trade_date
                 ROWS UNBOUNDED PRECEDING) AS prev_close,
         last_value(CASE WHEN close IS NOT NULL THEN trade_date END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY trade_date
                 ROWS UNBOUNDED PRECEDING) AS prev_date,
         first_value(CAST(close AS DOUBLE) IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_close,
         first_value(CASE WHEN close IS NOT NULL THEN trade_date END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_date
  FROM j
)
SELECT symbol, trade_date,
       CASE WHEN close IS NOT NULL THEN CAST(close AS DOUBLE)
            ELSE prev_close + (next_close - prev_close)
                 * (CAST(date_diff('day', prev_date, trade_date) AS DOUBLE)
                    / CAST(date_diff('day', prev_date, next_date) AS DOUBLE))
       END AS close_interp,
       close IS NOT NULL AS is_observed
FROM bracketed
""",
    "bars_ohlcv": BARS_SQL
    + """
SELECT symbol, trade_date,
       CAST(open AS DOUBLE) AS open, CAST(high AS DOUBLE) AS high,
       CAST(low AS DOUBLE) AS low, CAST(close AS DOUBLE) AS close, volume
FROM bars
""",
    "bars_rollup_multigrain": BARS_SQL
    + """
, calendared AS (
  SELECT *,
         CAST(date_trunc('week', trade_date) AS DATE)  AS week_start,
         CAST(date_trunc('month', trade_date) AS DATE) AS month_start
  FROM bars
)
SELECT symbol,
       CASE WHEN GROUPING(week_start) = 0 THEN 'week' ELSE 'month' END AS grain,
       COALESCE(week_start, month_start) AS period_start,
       CAST(arg_min(open, trade_date) AS DOUBLE)  AS open,
       CAST(max(high) AS DOUBLE)                  AS high,
       CAST(min(low) AS DOUBLE)                   AS low,
       CAST(arg_max(close, trade_date) AS DOUBLE) AS close,
       CAST(SUM(volume) AS BIGINT) AS volume,
       COUNT(*) AS n_days
FROM calendared
GROUP BY GROUPING SETS ((symbol, week_start), (symbol, month_start))
""",
}
