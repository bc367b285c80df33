"""MERGE-family table maintenance behind a pluggable table-format seam
(SURVEY §2.4 A5/A6/A7).

The reference's unit of work is one trading date, so the upsert
(``MERGE ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT``,
``4. merge_core.sql:53-96``, ``7. merge_fact_daily_price.sql:23-52``)
is reproduced exactly by **dynamic partition overwrite** on plain
parquet: rewrite the affected ``trade_date`` partitions as
dedup(source ∪ existing-partition). Untouched partitions are never read
or written — at 100 TB a daily run touches one partition regardless of
table size.

Insert-only merges (``WHEN NOT MATCHED THEN INSERT`` only — rejects, dims;
``4.:24-45``, ``5.:22-37``, ``6.:17-37``) are a left-anti join + append:
first write wins, existing rows never updated.

Note (SURVEY A5): the reference header comments promise a guarded UPDATE,
but the code's ``WHEN MATCHED`` has no guard — updates are unconditional;
we implement the code's semantics (source wins over target).

**Why the seam exists (the 100 TB escape hatch).** Partition overwrite
re-reduces |source ∪ touched-partitions| — exactly right when merges
align with the partition column (the reference's per-date batches), but
the wrong cost model when keyed updates scatter across partitions: the
CDC probe (``SCALE_PROBE.md`` cdc_10m) measured 26.2 s to LWW-merge a
10 M-row batch over 1 M keys this way, where a transactional keyed
``MERGE INTO`` (Delta/Iceberg) touches only the files holding matched
keys. ``DeltaMergeFormat`` below is that backend: real ``MERGE INTO``
code paths, import-gated (same discipline as
``plans.notify.webhook_notifier``) because this sandbox ships no Delta;
deployments with ``delta-spark`` on the classpath get file-pruned keyed
merges by swapping one constructor — every call site goes through the
``TableFormat`` interface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from securities_pricing_data_pipeline_spark.operators.dedup import dedup_latest


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _merged_frame(
    source: DataFrame,
    existing: DataFrame | None,
    keys: Sequence[str],
    prefer_source_order: Sequence[Column] | None,
) -> DataFrame:
    """dedup(source ∪ existing) with source rows winning on key collision —
    the shared LWW reduction both file formats use for the union path."""
    tagged = source.withColumn("__is_src", F.lit(1))
    if existing is not None:
        tagged = tagged.unionByName(existing.withColumn("__is_src", F.lit(0)))
    order = [F.desc("__is_src")] + list(prefer_source_order or [])
    return dedup_latest(tagged, list(keys), order).drop("__is_src")


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


def _newer_condition(order_cols: Sequence[str]) -> str:
    """Lexicographic 's is strictly newer than t' over ``order_cols`` —
    the WHEN MATCHED guard a transactional MERGE needs to be
    re-delivery-safe (an older or duplicate row must never overwrite)."""
    clauses = []
    for i, c in enumerate(order_cols):
        eqs = " AND ".join(f"s.`{p}` = t.`{p}`" for p in order_cols[:i])
        gt = f"s.`{c}` > t.`{c}`"
        clauses.append(f"({eqs} AND {gt})" if eqs else f"({gt})")
    return " OR ".join(clauses)


class ParquetPartitionOverwriteFormat:
    """Default backend: plain parquet + dynamic partition overwrite.

    Correct and file-pruned when the merge unit aligns with the partition
    column (the reference's one-date-per-run shape); see the module
    docstring for when to prefer ``DeltaMergeFormat`` instead.
    """

    name = "parquet"

    def exists(self, spark: SparkSession, path: str) -> bool:
        return _path_exists(spark, path)

    def read(
        self, spark: SparkSession, path: str, schema: T.StructType | None = None
    ) -> DataFrame:
        """Read the table; with ``schema`` the footers are not sampled, so
        no schema-inference job runs. A schema may name a subset of the
        columns (only those are read)."""
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    def upsert_partitions(
        self,
        spark: SparkSession,
        source: DataFrame,
        path: str,
        keys: Sequence[str],
        partition_col: str = "trade_date",
        prefer_source_order: Sequence[Column] | None = None,
        partition_values: Sequence | None = None,
    ) -> int:
        """Rewrite the partitions ``source`` touches as dedup(source ∪
        their existing rows). Returns the rows written to those
        partitions, i.e. their full post-merge contents, counted by an
        ``Observation`` on the write itself (no re-read).

        ``partition_values`` lists the ``partition_col`` values of
        ``source`` when the caller knows them (the daily pipeline rewrites
        exactly its trading date). It must cover every value in
        ``source``: existing rows of a value left out are dropped. When
        None, the values are collected from ``source`` (cached for it).
        """
        exists = self.exists(spark, path)
        cached = exists and partition_values is None
        if cached:
            source = source.cache()
            partition_values = [
                r[0] for r in source.select(partition_col).distinct().collect()
            ]
        existing = None
        if exists:
            # the target has the source's columns: reading with its schema
            # skips inference (a column the files lack reads as NULL); the
            # isin filter prunes to the touched partitions
            existing = self.read(spark, path, source.schema).filter(
                F.col(partition_col).isin(list(partition_values))
            )
        merged = _merged_frame(source, existing, keys, prefer_source_order)
        obs = Observation()
        merged = merged.observe(obs, F.count(F.lit(1)).alias("n"))
        # dynamic partitionOverwriteMode (session.py) → only these partitions move
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        if cached:
            source.unpersist()
        return int(obs.get["n"])

    def insert_if_absent(
        self,
        spark: SparkSession,
        source: DataFrame,
        path: str,
        keys: Sequence[str],
    ) -> int:
        if self.exists(spark, path):
            key_schema = T.StructType([source.schema[k] for k in keys])
            target_keys = self.read(spark, path, key_schema)
            new_rows = source.join(target_keys, list(keys), "left_anti")
        else:
            new_rows = source
        # dedup within the batch too (first occurrence wins deterministically)
        new_rows = dedup_latest(new_rows, list(keys), [F.asc(k) for k in keys]).cache()
        # decide before writing: appending an empty frame still writes an
        # (empty) part file, so an idempotent re-run must not reach the
        # write. The probe is one limit-1 job (coalesced, so an empty first
        # partition cannot make it scale up); the count rides the write.
        n = 0
        if not new_rows.coalesce(1).isEmpty():
            obs = Observation()
            observed = new_rows.observe(obs, F.count(F.lit(1)).alias("n"))
            observed.write.mode("append").parquet(path)
            n = int(obs.get["n"])
        new_rows.unpersist()
        return n

    def merge_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        path: str,
        keys: Sequence[str],
        order_cols: Sequence[str],
    ) -> None:
        """Streaming-CDC apply unit (the foreachBatch sink body): reduce
        the micro-batch to one winner per key by the ``order_cols`` total
        order, LWW-merge with the current table, republish atomically.
        Parquet cost model: |batch keys ∪ table keys| rows re-reduced per
        batch — state lives in the table, not executor memory; the Delta
        backend turns this into a guarded keyed MERGE INTO touching only
        matched files (the cdc_10m probe's escape hatch)."""
        winners = lww_reduce(batch, keys, order_cols)
        if self.exists(spark, path):
            winners = lww_reduce(
                self.read(spark, path).unionByName(winners), keys, order_cols
            )
        # materialize before republishing over the path we just read
        winners.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)


class DeltaMergeFormat:
    """Transactional keyed ``MERGE INTO`` backend (Delta Lake).

    Import-gated: constructing it without ``delta-spark`` on the
    classpath raises immediately with an actionable message — the same
    discipline as ``plans.notify.webhook_notifier``'s ``requests`` gate.
    Semantics match the parquet backend bit-for-bit on partition-aligned
    batches (source wins on key collision; insert-only never updates);
    the difference is purely the cost model — Delta's MERGE prunes to the
    files containing matched keys, so keyed updates scattered across
    partitions stop paying the |batch ∪ touched-partitions| re-reduce.

    NOTE: ``prefer_source_order`` has no Delta equivalent (MERGE sees one
    source row per key), so the batch is pre-reduced with the same
    ``dedup_latest`` window before the MERGE — identical keep-rule.
    """

    name = "delta"

    def __init__(self) -> None:
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError as exc:  # pragma: no cover - exercised via monkeypatch
            raise ImportError(
                "DeltaMergeFormat requires the delta-spark package and a "
                "SparkSession built with configure_spark_with_delta_pip(); "
                "use ParquetPartitionOverwriteFormat (the default) in "
                "environments without Delta."
            ) from exc

    def exists(self, spark: SparkSession, path: str) -> bool:
        from delta.tables import DeltaTable

        return bool(DeltaTable.isDeltaTable(spark, path))

    def read(
        self, spark: SparkSession, path: str, schema: T.StructType | None = None
    ) -> DataFrame:
        """``schema`` is ignored: the Delta log carries the table schema,
        so a Delta read runs no inference job either way."""
        return spark.read.format("delta").load(path)

    def upsert_partitions(
        self,
        spark: SparkSession,
        source: DataFrame,
        path: str,
        keys: Sequence[str],
        partition_col: str = "trade_date",
        prefer_source_order: Sequence[Column] | None = None,
        partition_values: Sequence | None = None,
    ) -> None:
        """Keyed MERGE. ``partition_values`` is accepted for interface
        parity and unused (MERGE prunes by key, not by a partition list).
        Returns None, not a row count: a MERGE rewrites only the files
        holding matched keys, so it never observes a partition's full
        contents, and callers that need one re-count the table."""
        from delta.tables import DeltaTable

        # one row per key, same keep-rule as the parquet backend
        batch = dedup_latest(
            source, list(keys), list(prefer_source_order or [F.asc(k) for k in keys])
        )
        if not self.exists(spark, path):
            batch.write.format("delta").partitionBy(partition_col).save(path)
            return
        cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(batch.alias("s"), cond)
            .whenMatchedUpdateAll()  # unconditional update: reference semantics
            .whenNotMatchedInsertAll()
            .execute()
        )

    def insert_if_absent(
        self,
        spark: SparkSession,
        source: DataFrame,
        path: str,
        keys: Sequence[str],
    ) -> int:
        from delta.tables import DeltaTable

        batch = dedup_latest(source, list(keys), [F.asc(k) for k in keys])
        if not self.exists(spark, path):
            batch = batch.cache()
            n = batch.count()
            if n:
                batch.write.format("delta").save(path)
            batch.unpersist()
            return n
        cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
        tbl = DeltaTable.forPath(spark, path)
        (
            tbl.alias("t")
            .merge(batch.alias("s"), cond)
            .whenNotMatchedInsertAll()  # first write wins: no matched clause
            .execute()
        )
        # inserted-row count from the MERGE commit's own operation
        # metrics — exact for THIS commit even under concurrent writers,
        # and O(1) vs the O(table) before/after count pair
        last = tbl.history(1).select("operationMetrics").collect()
        return int(last[0]["operationMetrics"].get("numTargetRowsInserted", 0))

    def merge_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        path: str,
        keys: Sequence[str],
        order_cols: Sequence[str],
    ) -> None:
        """Streaming-CDC apply as a transactional keyed MERGE: the batch
        is pre-reduced to one winner per key (Delta requires it), then
        MERGE INTO with a GUARDED update — ``whenMatchedUpdateAll`` only
        when the source row is strictly newer by the ``order_cols``
        lexicographic order, so replayed or out-of-order micro-batches
        can never regress a key (the re-delivery safety the parquet
        backend gets from re-reducing the full union). Touches only the
        files holding matched keys — the cdc_10m cost-class fix."""
        from delta.tables import DeltaTable

        winners = lww_reduce(batch, keys, order_cols)
        if not self.exists(spark, path):
            winners.write.format("delta").save(path)
            return
        cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(winners.alias("s"), cond)
            .whenMatchedUpdateAll(condition=_newer_condition(order_cols))
            .whenNotMatchedInsertAll()
            .execute()
        )


_FORMATS = {
    ParquetPartitionOverwriteFormat.name: ParquetPartitionOverwriteFormat,
    DeltaMergeFormat.name: DeltaMergeFormat,
}

_DEFAULT = ParquetPartitionOverwriteFormat()


def get_format(name: str = "parquet"):
    """Resolve a table-format backend by name (``parquet`` | ``delta``)."""
    try:
        return _FORMATS[name]()
    except KeyError:
        raise ValueError(
            f"unknown table format {name!r}; available: {sorted(_FORMATS)}"
        ) from None


def upsert_partitions(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str = "trade_date",
    prefer_source_order: Sequence[Column] | None = None,
    partition_values: Sequence | None = None,
) -> int:
    """A5 upsert on the default (parquet) backend — see the class for docs.
    Returns the rows written to the touched partitions."""
    return _DEFAULT.upsert_partitions(
        spark, source, path, keys, partition_col, prefer_source_order, partition_values
    )


def insert_if_absent(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
) -> int:
    """A6 insert-only merge on the default (parquet) backend."""
    return _DEFAULT.insert_if_absent(spark, source, path, keys)


# back-compat alias (pre-seam name used by early tests/callers)
_table_exists = _path_exists
