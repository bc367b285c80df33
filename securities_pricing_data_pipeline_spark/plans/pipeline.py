"""The daily pipeline: one driver program replacing the reference DAG
(``dags/get_securities_data.py`` — download → verify → upload → 8 SQL
tasks → notify; SURVEY §3.1).

Control flow is plain Python; every stage is a DataFrame transformation.
The XCom scalar becomes the ``trading_date`` argument; the task graph's
only fan-out (dims build independently after CORE) is just two independent
writes.

Stage map (reference task → here):
  t01 download            → sources.eod_api (driver fetch) or the eod_bars
                            Python Data Source (sources.eod_datasource,
                            one task per date)
  t02 verify local file   → sources.csv_source.file_exists_gate
  t03 upload S3           → append_bronze, the partitioned append to the
                            bronze root (the path IS the date layout:
                            trade_date=YYYY-MM-DD/)
  s01 COPY INTO RAW       → sources.csv_source.read_eod_csv → append_bronze
                            (both shared with streaming.ingest)
  s02 check loaded        → the row count observed on the bronze append;
                            operators.quality.existence_gate (a real
                            assert, one isEmpty probe) only when the
                            append wrote 0 rows
  s03 premerge metrics    → plans.metrics.premerge_metrics, a pure reducer
                            of counts observed on the s04 writes: raw and
                            reject rows on the silver write, inserted vs
                            updated keys from the upsert's MergeCounts
  s04 merge CORE+REJECT   → silver_rows (normalize → reject split
                            (NEGATIVE_VOLUME, NULL_SYMBOL) → dedup_latest;
                            shared with streaming.ingest) →
                            upsert_partitions / insert_if_absent
  s05 merge DIM_SECURITY  → one null-safe anti-join of the day's symbols
                            (merge.absent_rows) → surrogate_keys.assign_ids
                            → one staged append (merge.append_staged)
  s06 merge DIM_DATE      → date derivations + insert_if_absent
  s07 merge FACT          → broadcast star join + upsert_partitions
  s08 postmerge metrics   → plans.metrics.postmerge_counts, a pure reducer
                            of the s04/s07 upserts' MergeCounts (the rows
                            each wrote; no re-read of silver or fact)
  t05 Slack summary       → plans.notify (pluggable, fires on success AND
                            failure — the reference's trigger_rule=all_done)

Each table write is one Spark action (a new date: 7 in all — the bronze
append, the silver upsert, the reject insert, ``next_id``, the two dim
inserts and the fact upsert), and the run's counts are observed on those
writes.

Idempotency contract (A7): bronze is append-only and may hold duplicates
(FORCE=TRUE parity); silver and fact are rewritten per trade date to the
same rows; the insert-only tables (rejects, both dims) are left exactly
as they were — an insert with nothing new moves no file (tested at the
file level).

Every warehouse read passes its declared schema from ``schemas.py``
(``tables.read_table``), so no read runs a schema-inference job and the
layers really are schema-on-read, never inferred.
"""

from __future__ import annotations

import datetime as dt
import logging

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.functions.datetime import (
    date_sk,
    day_name_abbrev,
    day_of_week_0sun,
    is_weekend,
    month_name_abbrev,
    week_of_year_iso,
)
from securities_pricing_data_pipeline_spark.functions.normalize import normalize_symbol
from securities_pricing_data_pipeline_spark.operators.dedup import dedup_latest
from securities_pricing_data_pipeline_spark.operators.merge import (
    MergeCounts,
    absent_rows,
    append_staged,
    insert_if_absent,
    upsert_partitions,
)
from securities_pricing_data_pipeline_spark.operators.quality import (
    eod_reject_reason,
    existence_gate,
    observe_write_metrics,
    split_by_reason,
)
from securities_pricing_data_pipeline_spark.operators.surrogate_keys import assign_ids, next_id
from securities_pricing_data_pipeline_spark.plans.metrics import (
    RunMetrics,
    postmerge_counts,
    premerge_metrics,
)
from securities_pricing_data_pipeline_spark.plans.notify import (
    Notifier,
    format_summary,
    logging_notifier,
)
from securities_pricing_data_pipeline_spark.schemas import (
    DIM_SECURITY_SCHEMA,
    EOD_PRICES_SCHEMA,
    RAW_EOD_PRICES_SCHEMA,
)
from securities_pricing_data_pipeline_spark.sources.csv_source import read_eod_csv
from securities_pricing_data_pipeline_spark.tables import Warehouse, read_table

#: the business key of silver (CORE.EOD_PRICES) and of its reject audit
SILVER_KEYS = ("symbol", "trade_date")


def _day(spark: SparkSession, path: str, schema, trading_date: dt.date) -> DataFrame:
    """One trade_date partition of a date-partitioned table, read with its
    declared schema (partition-pruned, no inference job)."""
    return read_table(spark, path, schema).filter(F.col("trade_date") == F.lit(trading_date))


def append_bronze(wh: Warehouse, rows: DataFrame) -> int:
    """The bronze append, shared by ``ingest_bronze`` and the streaming
    ingest: ``rows`` appended under the trade_date-partitioned bronze root
    (append-only, FORCE=TRUE parity). Returns the row count observed on
    the write itself."""
    appended = Observation()
    rows.observe(appended, F.count(F.lit(1)).alias("n")).write.mode("append").partitionBy(
        "trade_date"
    ).parquet(wh.bronze)
    return appended.get["n"]


def ingest_bronze(
    spark: SparkSession, wh: Warehouse, landing_path: str, trading_date: dt.date
) -> DataFrame:
    """s01: landing CSVs → bronze append (typed, lineage-stamped).
    s02 reads the row count observed on the append; only an append of 0
    rows leaves the gate to probe the day's bronze partition."""
    raw = read_eod_csv(spark, landing_path).filter(F.col("trade_date") == F.lit(trading_date))
    appended = append_bronze(wh, raw)
    loaded = _day(spark, wh.bronze, RAW_EOD_PRICES_SCHEMA, trading_date)
    if not appended:
        existence_gate(loaded, f"bronze load for {trading_date}")  # s02
    return loaded


def silver_rows(
    bronze: DataFrame, counts: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """The s04 transform of bronze rows, shared by ``build_silver`` and the
    streaming ingest: normalize the symbol, split off the rejects
    (``eod_reject_reason``) and keep one row per ``SILVER_KEYS``. Returns
    (core rows, reject rows) in the CORE and REJECT column orders.

    With ``counts``, the raw and reject row counts of ``bronze`` are
    observed on the core rows' plan only, so they ride the silver write."""
    normalized = bronze.withColumn("symbol", normalize_symbol(F.col("symbol")))
    reason = eod_reject_reason()
    counted = normalized
    if counts is not None:
        counted = normalized.observe(
            counts,
            F.count(F.lit(1)).alias("raw"),
            F.count_if(reason.isNotNull()).alias("rejects"),
        )
    valid, _ = split_by_reason(counted, reason)
    _, rejects = split_by_reason(normalized, reason)

    # A4 dedup: latest _ingest_ts, tie-break _src_file desc (4.:66-81).
    # The reference's ordering leaves within-file duplicates untotaled
    # (same ts+file) → arbitrary winner; we add a content tie-break so
    # re-runs are deterministic (A7 needs a total order).
    deduped = dedup_latest(
        valid,
        SILVER_KEYS,
        [F.desc("_ingest_ts"), F.desc("_src_file")]
        + [F.desc_nulls_last(c) for c in ("volume", "close", "open", "high", "low")],
    )
    core_rows = deduped.select(
        "trade_date", "symbol", "open", "high", "low", "close", "volume"
    ).withColumn("load_ts", F.current_timestamp())
    reject_rows = rejects.select(
        "trade_date", "symbol", "open", "high", "low", "close", "volume",
        "reject_reason", "_src_file", "_ingest_ts",
    )
    return core_rows, reject_rows


def build_silver(
    spark: SparkSession, wh: Warehouse, trading_date: dt.date
) -> tuple[tuple[int, int, int, int], MergeCounts]:
    """s03+s04: ``silver_rows`` → upsert CORE, insert-only REJECT. Returns
    the premerge metrics (raw, rejects, est_ins, est_upd) and the CORE
    upsert's counts."""
    bronze = _day(spark, wh.bronze, RAW_EOD_PRICES_SCHEMA, trading_date)
    # the day's raw and reject row counts ride the silver write
    read_obs = Observation()
    core_rows, reject_rows = silver_rows(bronze, read_obs)
    # metrics ride the write job itself (Observation accumulators) —
    # no second scan, unlike the reference's per-metric COUNT statements
    core_rows, write_obs = observe_write_metrics(core_rows, "silver_write")
    core = upsert_partitions(
        spark, core_rows, wh.silver, keys=SILVER_KEYS, partition_values=[trading_date]
    )
    # insert-only reject audit (first reject wins, 4.:24-45)
    insert_if_absent(spark, reject_rows, wh.reject, keys=SILVER_KEYS)

    if core.inserted + core.updated:
        counts = read_obs.get
        raw, reject_cnt = counts["raw"], counts["rejects"]
        logging.getLogger(__name__).info("silver write metrics: %s", write_obs.get)
    else:
        # No valid row: AQE replaced the write's empty stages, and the two
        # observations inside them, with an empty relation, so neither is
        # reported. Every bronze row of the day is then a reject.
        raw = reject_cnt = bronze.count()
    return premerge_metrics(raw - reject_cnt, reject_cnt, core), core


def build_dim_security(spark: SparkSession, wh: Warehouse, trading_date: dt.date) -> int:
    """s05: append-only security dim with deterministic surrogate ids. The
    day's symbols are anti-joined with the dim once, numbered from the
    high-water mark and published in one staged append."""
    day_symbols = _day(spark, wh.silver, EOD_PRICES_SCHEMA, trading_date).select("symbol")
    new_symbols = absent_rows(spark, day_symbols, wh.dim_security, ["symbol"])
    start = next_id(spark, wh.dim_security)
    return append_staged(spark, assign_ids(new_symbols, start), wh.dim_security)


def build_dim_date(spark: SparkSession, wh: Warehouse, trading_date: dt.date) -> int:
    """s06: append-only date dim with the §2.5/§2.7 derivations."""
    d = F.col("cal_date")
    # one JVM-side row: createDataFrame from a Python list would scan a
    # parallelized RDD of defaultParallelism partitions instead
    row = (
        spark.range(1, numPartitions=1)
        .select(F.lit(trading_date).alias("cal_date"))
        .select(
            date_sk(d).alias("date_sk"),
            d.alias("cal_date"),
            F.year(d).cast("int").alias("year_num"),
            F.quarter(d).cast("int").alias("quarter_num"),
            F.month(d).cast("int").alias("month_num"),
            month_name_abbrev(d).alias("month_name"),
            F.dayofmonth(d).cast("int").alias("day_num"),
            day_name_abbrev(d).alias("day_name"),
            day_of_week_0sun(d).alias("day_of_week"),
            week_of_year_iso(d).alias("week_of_year"),
            is_weekend(d).alias("is_weekend"),
        )
    )
    return insert_if_absent(spark, row, wh.dim_date, keys=["date_sk"])


def build_fact(spark: SparkSession, wh: Warehouse, trading_date: dt.date) -> MergeCounts:
    """s07: star join CORE←dims (broadcast dims) → per-date fact upsert.
    Returns the upsert's counts, observed on its write."""
    core = _day(spark, wh.silver, EOD_PRICES_SCHEMA, trading_date)
    dim_sec = read_table(spark, wh.dim_security, DIM_SECURITY_SCHEMA)
    fact = (
        core.join(F.broadcast(dim_sec), "symbol")
        .select(
            "security_id",
            date_sk(F.col("trade_date")).alias("date_sk"),
            "trade_date",
            "open", "high", "low", "close", "volume",
            F.current_timestamp().alias("load_ts"),
        )
    )
    return upsert_partitions(
        spark, fact, wh.fact_daily_price, keys=["security_id", "date_sk"],
        partition_values=[trading_date],
    )


def run(
    spark: SparkSession,
    wh: Warehouse,
    landing_path: str,
    trading_date: dt.date,
    notifier: Notifier = logging_notifier,
) -> RunMetrics:
    """Full daily run. Notifies on success and on failure (all_done parity),
    then re-raises failures."""
    m = RunMetrics(trading_date=trading_date)
    try:
        ingest_bronze(spark, wh, landing_path, trading_date)
        pre, core = build_silver(spark, wh, trading_date)
        m.raw_cnt, m.reject_cnt, m.est_inserts, m.est_updates = pre
        build_dim_security(spark, wh, trading_date)
        build_dim_date(spark, wh, trading_date)
        fact = build_fact(spark, wh, trading_date)
        m.core_cnt, m.fact_cnt = postmerge_counts(core, fact)
    except Exception as exc:
        m.notes.append(f"FAILED: {type(exc).__name__}: {exc}")
        notifier(format_summary(m, status="FAILED"))
        raise
    notifier(format_summary(m, status="SUCCESS"))
    return m
