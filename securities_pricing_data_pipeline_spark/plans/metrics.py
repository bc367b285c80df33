"""A1/A8/A9: pre/post-merge reconciliation metrics.

The reference assembles these as CROSS JOINs of single-row aggregates
(``3. premerge_metrics.sql:45-53``, ``8. postmerge_metrics.sql:16-25``)
and ships them over XCom to the Slack summary. Here every count is
observed on a write the run makes anyway, so no metric launches a Spark
job of its own: the raw and reject row counts ride the silver write, the
insert/update split is the silver upsert's ``MergeCounts``, and the
post-merge CORE/FACT counts are the rows the two upserts wrote to the
date's partition. ``premerge_metrics`` and ``postmerge_counts`` only
reduce those numbers. The results come back as a plain dataclass — the
control-plane scalar is a function return value, not an
orchestration-framework artifact.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from securities_pricing_data_pipeline_spark.operators.merge import MergeCounts


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


def postmerge_counts(core: MergeCounts, fact: MergeCounts) -> tuple[int, int]:
    """A9: CORE vs FACT row counts for the date (8.:16-25) — the rows the
    silver and fact upserts wrote to the date's partition, observed on
    those writes."""
    return core.written, fact.written
