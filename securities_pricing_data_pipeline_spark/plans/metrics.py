"""A1/A8/A9: pre/post-merge reconciliation metrics.

The reference assembles these as CROSS JOINs of single-row aggregates
(``3. premerge_metrics.sql:45-53``, ``8. postmerge_metrics.sql:16-25``)
and ships them over XCom to the Slack summary. Here the premerge metrics
are one aggregate action (a per-key pass, then one final ``agg``; under
AQE its two shuffle stages are jobs of their own), and the postmerge
counts are observed on the upserts' own writes, so they cost no job
unless a backend reports none. Both come back as a plain dataclass — the
control-plane scalar is a function return value, not an
orchestration-framework artifact.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.operators.merge import _table_exists
from securities_pricing_data_pipeline_spark.schemas import (
    EOD_PRICES_SCHEMA,
    FACT_DAILY_PRICE_SCHEMA,
)

_KEYS = ["symbol", "trade_date"]


@dataclass
class RunMetrics:
    trading_date: dt.date | None = None
    raw_cnt: int = 0
    reject_cnt: int = 0
    est_inserts: int = 0
    est_updates: int = 0
    core_cnt: int = 0
    fact_cnt: int = 0
    notes: list[str] = field(default_factory=list)


def premerge_metrics(
    valid: DataFrame, rejects: DataFrame, silver_existing_keys: DataFrame | None
) -> tuple[int, int, int, int]:
    """(raw, rejects, est_inserts, est_updates) in one aggregate action.

    Valid rows, reject rows and the silver day's keys are tagged and
    unioned, reduced per (symbol, trade_date) to a row count, a reject
    count and two flags (has a valid row, is in silver), then summed.
    est_updates = distinct valid keys already in silver; est_inserts =
    the remaining distinct valid keys (3.:41-53). Silver keys with a NULL
    part never count as present, as under the reference's equi-join.
    """
    one, zero = F.lit(1), F.lit(0)
    tagged = valid.select(*_KEYS, one.alias("v"), zero.alias("r"), zero.alias("s"))
    tagged = tagged.unionByName(
        rejects.select(*_KEYS, zero.alias("v"), one.alias("r"), zero.alias("s"))
    )
    if silver_existing_keys is not None:
        present = silver_existing_keys.where(
            F.col("symbol").isNotNull() & F.col("trade_date").isNotNull()
        )
        tagged = tagged.unionByName(
            present.select(*_KEYS, zero.alias("v"), zero.alias("r"), one.alias("s"))
        )
    per_key = tagged.groupBy(*_KEYS).agg(
        F.sum(F.col("v") + F.col("r")).alias("rows"),
        F.sum("r").alias("rejects"),
        (F.max("v") == 1).alias("has_valid"),
        (F.max("s") == 1).alias("in_silver"),
    )
    row = per_key.agg(
        F.sum("rows"),
        F.sum("rejects"),
        F.count_if(F.col("has_valid") & ~F.col("in_silver")),
        F.count_if(F.col("has_valid") & F.col("in_silver")),
    ).first()
    raw, reject_cnt, est_inserts, est_updates = (int(x or 0) for x in row)
    return raw, reject_cnt, est_inserts, est_updates


def postmerge_counts(
    spark: SparkSession,
    silver_path: str,
    fact_path: str,
    trading_date: dt.date,
    written: tuple[int | None, int | None] = (None, None),
) -> tuple[int, int]:
    """A9: CORE vs FACT row counts for the date.

    ``written`` carries the counts the two upserts observed on their own
    writes (the rewritten date partition's rows). Only a count that is
    None — a backend that reports none — is re-counted with a
    partition-pruned scan.
    """

    def count_for(path: str, schema, n: int | None) -> int:
        if n is not None:
            return n
        if not _table_exists(spark, path):
            return 0
        return (
            spark.read.schema(schema)
            .parquet(path)
            .filter(F.col("trade_date") == F.lit(trading_date))
            .count()
        )

    core_n, fact_n = written
    return (
        count_for(silver_path, EOD_PRICES_SCHEMA, core_n),
        count_for(fact_path, FACT_DAILY_PRICE_SCHEMA, fact_n),
    )
