"""MERGE-family table maintenance on plain parquet (SURVEY §2.4 A5/A6/A7).

The reference's unit of work is one trading date, so the upsert
(``MERGE ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT``,
``4. merge_core.sql:53-96``, ``7. merge_fact_daily_price.sql:23-52``)
is reproduced exactly by **dynamic partition overwrite**: rewrite the
affected ``trade_date`` partitions as dedup(source ∪ existing-partition).
Untouched partitions are never read or written — a daily run touches one
partition regardless of table size. The rewrite is one Spark action, and
its reconciliation counts (``MergeCounts``: inserted, updated, written —
the numbers the reference takes around its MERGE statements) are
observed on that write.

Insert-only merges (``WHEN NOT MATCHED THEN INSERT`` only — rejects, dims;
``4.:24-45``, ``5.:22-37``, ``6.:17-37``) are a null-safe anti-join plus
an in-batch dedup, published by a **staged append**: the new rows are
written once, with an observed count, to a ``_staging-<uuid>`` directory
under the table (readers skip ``_`` directories), and their part files
move into the table only when that count is above 0. First write wins;
existing rows are never updated, and an insert with nothing new leaves
the table's files untouched.

The streaming-CDC apply (``merge_batch``) is a keyed last-writer-wins
merge instead: the micro-batch's winners are re-reduced with the whole
table and the table is republished. Existence checks and reads go
through ``tables.table_exists`` and ``tables.read_table``.

Note (SURVEY A5): the reference header comments promise a guarded UPDATE,
but the code's ``WHEN MATCHED`` has no guard — updates are unconditional;
we implement the code's semantics (source wins over target).

Observations are read only off the final stage of a write's plan. Under
AQE, a stage whose output turns out empty is replaced by an empty
relation, and an ``observe`` inside it is then never reported.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from securities_pricing_data_pipeline_spark.operators.dedup import dedup_latest
from securities_pricing_data_pipeline_spark.tables import fs_path, read_table, table_exists


class MergeCounts(NamedTuple):
    """Reconciliation counts of one upsert, observed on its write.

    With E existing rows in the touched partitions, S distinct source keys
    and M rows written: ``updated = S + E − M`` (source keys already
    present) and ``inserted = M − E`` (source keys that were not).
    ``written`` is M, the touched partitions' full post-merge contents."""

    inserted: int
    updated: int
    written: int


def lww_reduce(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """One winner per key by the ``order_cols`` TOTAL order (max-struct,
    so the reduction is a hash aggregate with map-side partial combine,
    not a window sort) — the streaming-CDC apply reduction. ``order_cols``
    must totally order rows within a key (e.g. (ts, event_id)); the
    remaining columns ride along in the struct but never decide. LWW
    under a total order is associative + commutative, which is exactly
    what makes the apply independent of micro-batch boundaries."""
    rest = [c for c in df.columns if c not in keys]
    ordered = list(order_cols) + [c for c in rest if c not in order_cols]
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max(F.struct(*[F.col(c) for c in ordered])).alias("__s")
    ).select(*keys, *[F.col(f"__s.{c}").alias(c) for c in rest])


def absent_rows(
    spark: SparkSession, source: DataFrame, path: str, keys: Sequence[str]
) -> DataFrame:
    """The rows of ``source`` whose key the table at ``path`` lacks, one
    per key, in ``source``'s column order.

    The table's keys are unioned in and sorted first within each key, so
    one shuffle does both the anti-join and the in-batch dedup. Window
    partitioning treats NULL keys as equal, so the match is null-safe: a
    NULL-keyed row is inserted once, not on every run. Among same-key
    source rows the smallest by the remaining columns wins, whatever the
    input order or partitioning."""
    cols = source.columns
    tagged = source.withColumn("__is_src", F.lit(1))
    if table_exists(spark, path):
        key_schema = T.StructType([source.schema[k] for k in keys])
        target = read_table(spark, path, key_schema)
        tagged = tagged.unionByName(
            target.withColumn("__is_src", F.lit(0)), allowMissingColumns=True
        )
    order = [F.asc("__is_src")] + [F.asc(c) for c in cols if c not in keys]
    return (
        dedup_latest(tagged, list(keys), order)
        .filter(F.col("__is_src") == 1)
        .select(*cols)
    )


def append_staged(spark: SparkSession, rows: DataFrame, path: str) -> int:
    """Append ``rows`` to the unpartitioned table at ``path`` in one Spark
    action; returns the rows appended.

    ``rows`` are written once, with an ``Observation`` count, to a
    ``_staging-<uuid>`` directory under the table. Its part files are
    renamed into the table only when the count is above 0, and the staging
    directory is always removed. So an empty append leaves the table's
    files (names, sizes, mtimes) as they were, and an empty append to a
    missing table leaves no directory behind."""
    fs, table = fs_path(spark, path)
    existed = fs.exists(table)
    _, staging = fs_path(spark, path, f"_staging-{uuid.uuid4().hex}")
    obs = Observation()
    n = 0
    try:
        rows.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(staging.toString())
        n = int(obs.get["n"])
        if n:
            for st in fs.listStatus(staging):
                name = st.getPath().getName()
                if name.startswith("part-") and not fs.rename(
                    st.getPath(), fs_path(spark, path, name)[1]
                ):
                    raise OSError(f"could not move {name} into {path}")
    finally:
        fs.delete(staging, True)
        if not existed and not n:
            fs.delete(table, True)
    return n


def upsert_partitions(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str = "trade_date",
    prefer_source_order: Sequence[Column] | None = None,
    partition_values: Sequence | None = None,
) -> MergeCounts:
    """A5 upsert: rewrite the partitions ``source`` touches as
    dedup(source ∪ their existing rows), source rows winning
    (``prefer_source_order`` breaks ties among same-key source rows). One
    write; its ``MergeCounts`` are observed on it (no re-read).

    ``partition_values`` lists the ``partition_col`` values of ``source``
    when the caller knows them (the daily pipeline rewrites exactly its
    trading date). It must cover every value in ``source``: existing rows
    of a value left out are dropped. When None, the values are collected
    from ``source`` (cached for it).

    Correct and file-pruned when the merge unit aligns with the partition
    column (the reference's one-date-per-run shape). When keyed updates
    scatter across partitions, each call re-reduces |source ∪ touched
    partitions| (``SCALE_PROBE.md`` cdc_10m: 26.2 s for 10 M rows over
    1 M keys).
    """
    exists = table_exists(spark, path)
    cached = exists and partition_values is None
    if cached:
        source = source.cache()
        partition_values = [
            r[0] for r in source.select(partition_col).distinct().collect()
        ]
    tagged = source.withColumn("__is_src", F.lit(1))
    if exists:
        # the target has the source's columns: reading with its schema
        # skips inference (a column the files lack reads as NULL); the
        # isin filter prunes to the touched partitions
        existing = read_table(spark, path, source.schema).filter(
            F.col(partition_col).isin(list(partition_values))
        )
        tagged = tagged.unionByName(existing.withColumn("__is_src", F.lit(0)))
    w = Window.partitionBy(*keys).orderBy(
        F.desc("__is_src"), *(prefer_source_order or [])
    )
    first, src = F.col("__rn") == 1, F.col("__is_src") == 1
    obs = Observation()
    ranked = tagged.withColumn("__rn", F.row_number().over(w)).observe(
        obs,
        F.count_if(first & src).alias("source"),
        F.count_if(~src).alias("existing"),
        F.count_if(first).alias("written"),
    )
    # dynamic partitionOverwriteMode (session.py) → only these partitions move
    ranked.filter(first).drop("__rn", "__is_src").write.mode("overwrite").partitionBy(
        partition_col
    ).parquet(path)
    if cached:
        source.unpersist()
    c = obs.get
    return MergeCounts(
        inserted=c["written"] - c["existing"],
        updated=c["source"] + c["existing"] - c["written"],
        written=c["written"],
    )


def insert_if_absent(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
) -> int:
    """A6 insert-only merge: append the rows of ``source`` whose key is
    not yet in the table (``absent_rows``) in one staged write; returns
    how many."""
    return append_staged(spark, absent_rows(spark, source, path, keys), path)


def merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> None:
    """Streaming-CDC apply unit (the foreachBatch sink body): reduce the
    micro-batch to one winner per key by the ``order_cols`` total order,
    LWW-merge with the current table, republish. Cost model: |batch keys
    ∪ table keys| rows re-reduced per batch — state lives in the table,
    not executor memory."""
    winners = lww_reduce(batch, keys, order_cols)
    if table_exists(spark, path):
        winners = lww_reduce(read_table(spark, path).unionByName(winners), keys, order_cols)
    # materialize before republishing over the path we just read
    winners.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
