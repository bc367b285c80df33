"""Medallion table layout & IO conventions.

The reference's 5-layer warehouse (RAW → CORE → DM_DIM / DM_FACT → SA,
``README.md:56-62``) becomes a directory-per-layer Parquet layout. Every
time-series table is **partitioned by ``trade_date``** so the reference's
per-date predicate (`WHERE TRADE_DATE = d` on every statement) is partition
pruning for free, and the per-date MERGE becomes a dynamic partition
overwrite — the scale-safe substitute for row-level upsert without Delta.

This module is also the package's one table-IO layer: ``table_exists`` and
``read_table`` are the only existence check and table reader, and
``fs_path`` is the only place a Hadoop filesystem handle is built.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


@dataclass(frozen=True)
class Warehouse:
    """Path conventions for one warehouse root (local dir, HDFS, or s3a://)."""

    root: str

    @property
    def bronze(self) -> str:  # RAW
        return os.path.join(self.root, "bronze", "eod_prices_raw")

    @property
    def silver(self) -> str:  # CORE.EOD_PRICES
        return os.path.join(self.root, "silver", "eod_prices")

    @property
    def reject(self) -> str:  # CORE.EOD_PRICES_REJECT
        return os.path.join(self.root, "silver", "eod_prices_reject")

    @property
    def dim_security(self) -> str:
        return os.path.join(self.root, "gold", "dim_security")

    @property
    def dim_date(self) -> str:
        return os.path.join(self.root, "gold", "dim_date")

    @property
    def fact_daily_price(self) -> str:
        return os.path.join(self.root, "gold", "fact_daily_price")


def fs_path(spark: SparkSession, path: str, *children: str):
    """The Hadoop ``(FileSystem, Path)`` of ``path`` joined with
    ``children`` — the one place the package builds filesystem handles."""
    hadoop = spark.sparkContext._jvm.org.apache.hadoop.fs
    p = hadoop.Path(path)
    for child in children:
        p = hadoop.Path(p, child)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def table_exists(spark: SparkSession, path: str) -> bool:
    """True if anything exists at ``path``; a filesystem check, no Spark job."""
    fs, p = fs_path(spark, path)
    return bool(fs.exists(p))


def read_table(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read the parquet table at ``path``. With ``schema`` the footers are
    not sampled, so no schema-inference job runs; a schema may name a
    subset of the columns (only those are read, and a column the files
    lack reads as NULL)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str] | None = None,
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Catalog-registered bucketed table — the SURVEY §7 scale posture for
    silver: bucket by ``symbol`` so every symbol-keyed join/agg between
    bucketed tables is co-located (Catalyst drops BOTH shuffle exchanges;
    ``sortBy`` additionally removes the sort under sort-merge join).

    Bucketing needs the session catalog (bucket metadata lives there, not
    in parquet footers), hence ``saveAsTable`` with an explicit ``path``
    (external table) rather than a bare directory write. At 100 TB, pick
    ``n_buckets`` so a bucket ≈ one task's comfortable input (~128–512 MB);
    bucket count must match across tables meant to co-join.
    """
    bucket_cols = bucket_cols or ["symbol"]
    sort_cols = sort_cols if sort_cols is not None else bucket_cols
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
