"""S3/S5/S7: CSV landing-file read with the reference's load semantics.

Reproduces ``dags/sql/1. copy_to_raw.sql:15-39``:
  * declared schema, positional/typed projection (never inferred);
  * CSV dialect: ``,`` delimiter, 1 header row, NULL_IF ('', 'NULL');
  * filename pattern ``*.csv`` / ``*.csv.gz`` via pathGlobFilter;
  * ``ON_ERROR='CONTINUE'`` — exact whole-row-skip semantics: ANY field
    that fails its declared-type conversion rejects the entire row, not
    just the field. Spark's ``DROPMALFORMED`` alone is weaker (it keeps
    rows whose token count matches and nulls the unconvertible field), so
    we read PERMISSIVE with ``columnNameOfCorruptRecord`` and drop rows
    whose raw record was captured — the corrupt marker is set on both
    structural damage (wrong token count) and single-field cast failures,
    which matches the reference's observed skip-bad-rows contract;
  * lineage columns ``_src_file`` (METADATA$FILENAME) and ``_ingest_ts``
    (CURRENT_TIMESTAMP) stamped at read time.

This is the only module that reads CSV: the batch pipeline
(``plans.pipeline.ingest_bronze``) and the streaming ingest
(``streaming.ingest.stream_ingest_eod``) both read landing files through
``read_eod_csv``, so a row the batch load skips never reaches a streamed
table either.

Scale note: the corrupt-record pass adds one string column inside the
scan only — no extra job, no shuffle; the filter is evaluated row-local
in the same stage, so the 100 TB cost is identical to the plain read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from securities_pricing_data_pipeline_spark.schemas import EOD_CSV_SCHEMA

#: raw-record capture column (never escapes this module)
_CORRUPT = "_corrupt_record"

_READ_SCHEMA = T.StructType(
    list(EOD_CSV_SCHEMA.fields) + [T.StructField(_CORRUPT, T.StringType(), True)]
)


def file_exists_gate(path: str) -> None:
    """S5: explicit existence/size assertion before read (parity with
    ``get_securities_data.py:74-96``). Local paths only; on object stores
    rely on the read itself."""
    if path.startswith(("/", "file:")) and not os.path.exists(path.removeprefix("file:")):
        raise FileNotFoundError(f"landing file/dir missing: {path}")


def _read_with_corrupt(
    spark: SparkSession, path: str, reader: DataFrameReader | DataStreamReader | None = None
) -> DataFrame:
    # With parser column pruning on, only projected fields are converted, so
    # a cast failure in an unprojected column would neither mark the row
    # corrupt nor drop it — semantics would then depend on the consumer's
    # SELECT list. Whole-row CONTINUE must judge every field, so pin pruning
    # off (runtime-settable; CSV is only read through this module).
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    return (
        (reader or spark.read)
        .schema(_READ_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .option("pathGlobFilter", "*.csv*")
        .option("nullValue", "NULL")  # literal 'NULL' → null
        .option("emptyValue", None)  # empty string → null (second NULL_IF sentinel)
        .csv(path)
    )


def read_eod_csv(
    spark: SparkSession, path: str, reader: DataFrameReader | DataStreamReader | None = None
) -> DataFrame:
    """Read landing CSVs into the bronze shape (typed + lineage), skipping
    whole rows on any conversion failure (ON_ERROR='CONTINUE').

    ``reader`` picks batch or stream: ``spark.read`` by default, or a
    ``spark.readStream`` (carrying its own trigger options) for a
    file-source stream with the same schema, dialect and row skip."""
    # The always-true symbol clause anchors one data column in the scan's
    # required schema: a fully-pruned consumer (e.g. ``df.count()``) would
    # otherwise reference only the corrupt column, which the analyzer
    # rejects (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    keep = F.col(_CORRUPT).isNull() & (F.length(F.coalesce(F.col("symbol"), F.lit(""))) >= 0)
    df = _read_with_corrupt(spark, path, reader).filter(keep).drop(_CORRUPT)
    return df.withColumn("_src_file", F.input_file_name()).withColumn(
        "_ingest_ts", F.current_timestamp()
    )


def read_eod_csv_rejects(spark: SparkSession, path: str) -> DataFrame:
    """Audit view of rows ON_ERROR='CONTINUE' skipped: the raw record text
    plus source file, for the reject/ops channel (the reference surfaces
    skipped-row counts in its load summary)."""
    # same pruning anchor as read_eod_csv: a count() over the rejects must
    # not reduce the scan to the corrupt column alone
    bad = F.col(_CORRUPT).isNotNull() & (F.length(F.coalesce(F.col("symbol"), F.lit(""))) >= 0)
    df = _read_with_corrupt(spark, path).filter(bad)
    # The projection must reference EVERY data column: the CSV reader only
    # converts requested fields, so a pruned scan would miss cast failures
    # in unrequested ones (and Spark outright refuses corrupt-column-only
    # scans — QUERY_ONLY_CORRUPT_RECORD_COLUMN). Keeping the typed columns
    # is also the useful audit shape: fields that parsed survive, the
    # failing ones are null, and raw_record preserves the original line.
    return df.select(
        F.col(_CORRUPT).alias("raw_record"),
        *[F.col(f.name) for f in EOD_CSV_SCHEMA.fields],
        F.input_file_name().alias("_src_file"),
        F.current_timestamp().alias("_ingest_ts"),
    )
