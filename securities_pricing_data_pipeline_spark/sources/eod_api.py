"""S1/S2: EOD grouped-daily market-data source.

Reference behavior (``dags/lib/eod_data_downloader.py:24-61``):
  * GET ``/v2/aggs/grouped/locale/us/market/stocks/{date}`` with
    ``adjusted=true&include_otc=false``, 60 s timeout;
  * walk backward up to ``lookback_days`` calendar days until a day with
    ``resultsCount > 0`` (market holidays/weekends);
  * project API fields ``T,o,h,l,c,v`` → ``symbol,open,high,low,close,
    volume`` with a constant ``trade_date``, missing keys → NULL.

Spark-first shape: the fetch is a driver-side call that yields a small
per-day row list (≈10⁴ rows/day) → ``spark.createDataFrame``. A multi-day
backfill reads through the ``eod_bars`` Python Data Source
(``sources.eod_datasource``) instead: one task per date, each fetching and
projecting its own date on an executor with this module's ``http_fetcher``
and ``project_rows``.

No secrets/endpoints are baked in: callers pass base_url + api_key. Tests
inject a deterministic ``fetcher`` (no network in this environment).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterator
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from securities_pricing_data_pipeline_spark.schemas import EOD_CSV_SCHEMA

# fetcher: (date) -> list of API-shaped dicts with keys T,o,h,l,c,v (subset ok)
Fetcher = Callable[[dt.date], list[dict]]


def http_fetcher(base_url: str, api_key: str, timeout_s: int = 60) -> Fetcher:
    """Real HTTP fetcher (grouped-daily endpoint shape). Import-gated:
    requests may be absent in minimal images."""

    def fetch(day: dt.date) -> list[dict]:
        import requests  # gated import

        url = f"{base_url}/v2/aggs/grouped/locale/us/market/stocks/{day.isoformat()}"
        resp = requests.get(
            url,
            params={"adjusted": "true", "include_otc": "false", "apiKey": api_key},
            timeout=timeout_s,
        )
        resp.raise_for_status()
        payload = resp.json()
        if int(payload.get("resultsCount", 0)) <= 0:
            return []
        return payload.get("results", [])

    return fetch


def fetch_day_with_lookback(
    fetcher: Fetcher, requested: dt.date, lookback_days: int = 10
) -> tuple[dt.date, list[dict]]:
    """Walk backward until a day returns rows (holiday/weekend handling,
    ``eod_data_downloader.py:84-88``). Raises if the whole window is empty."""
    for off in range(lookback_days + 1):
        day = requested - dt.timedelta(days=off)
        rows = fetcher(day)
        if rows:
            return day, rows
    raise RuntimeError(f"no data within {lookback_days} days before {requested}")


def project_rows(day: dt.date, rows: list[dict]) -> Iterator[tuple]:
    """S2 projection: T,o,h,l,c,v → one ``EOD_CSV_SCHEMA`` tuple per row;
    missing keys → NULL. Prices go through ``str`` so float inputs keep
    their printed digits. The one projection of the driver fetch and of
    every ``eod_bars`` reader."""
    for r in rows:
        yield (
            day,
            r.get("T"),
            None if r.get("o") is None else Decimal(str(r["o"])),
            None if r.get("h") is None else Decimal(str(r["h"])),
            None if r.get("l") is None else Decimal(str(r["l"])),
            None if r.get("c") is None else Decimal(str(r["c"])),
            None if r.get("v") is None else Decimal(int(r["v"])),
        )


def rows_to_frame(spark: SparkSession, day: dt.date, rows: list[dict]) -> DataFrame:
    """One fetched day as a typed bar frame (``project_rows``)."""
    return spark.createDataFrame(list(project_rows(day, rows)), EOD_CSV_SCHEMA)
