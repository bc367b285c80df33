"""A1/A8/A9: pre/post-merge reconciliation metrics.

The reference assembles these as CROSS JOINs of single-row aggregates
(``3. premerge_metrics.sql:45-53``, ``8. postmerge_metrics.sql:16-25``)
and ships them over XCom to the Slack summary. Here every count is
observed on a write the run makes anyway, so no metric launches a Spark
job of its own: the raw and reject row counts ride the silver write, the
insert/update split is the silver upsert's ``MergeCounts``, and the
post-merge CORE/FACT counts are the rows the two upserts wrote to the
date's partition. ``premerge_metrics`` only reduces those numbers. Both
come back as a plain dataclass — the control-plane scalar is a function
return value, not an orchestration-framework artifact.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.operators.merge import MergeCounts, _table_exists
from securities_pricing_data_pipeline_spark.schemas import (
    EOD_PRICES_SCHEMA,
    FACT_DAILY_PRICE_SCHEMA,
)


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
    valid_rows: int, reject_rows: int, core: MergeCounts
) -> tuple[int, int, int, int]:
    """(raw, rejects, est_inserts, est_updates) from counts observed on
    the writes (3.:41-53): raw = valid + rejected bronze rows of the day;
    est_updates = distinct valid keys already in silver (``core.updated``);
    est_inserts = the remaining distinct valid keys (``core.inserted``)."""
    return valid_rows + reject_rows, reject_rows, core.inserted, core.updated


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
    None — a caller with no observed count — is re-counted with a
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
