"""Shared parity discipline for Spark↔DuckDB oracle hash-matching.

Floating-point SUM/AVG is order-dependent, and Spark's partial aggregation
order differs from DuckDB's serial scan — so any query that sums doubles
would hash-mismatch. The engine's rule (documented once, applied everywhere;
SURVEY §2.7 item 4 / §7 risk 4):

  1. per-row arithmetic may use doubles (bit-deterministic on identical
     inputs in both engines);
  2. before ANY cross-row sum, snap the value to a decimal grid with
     ``dec(col, scale)`` — choose ``scale`` so |value|·10^scale ≲ 1e12,
     keeping the binary→decimal cast error far below half a grid unit in
     both engines (Spark casts via decimal string, DuckDB via binary
     multiply; they agree whenever the cast is unambiguous);
  3. aggregate the decimals — exact, order-independent in both engines;
  4. cast final scalars to double (exact for these magnitudes) and do any
     remaining division in double.

This yields bit-exact parity without sacrificing distributed partial
aggregation (decimal sums still combine map-side).
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Query callables must work on ANY SparkSession, including the
    # correctness driver's vanilla one, not just session.get_spark()'s —
    # so every session-sensitive pin is (idempotently) applied here too.
    #
    # nanosAsLong: some generations of the testdata write `events.ts` as
    # parquet INT64 TIMESTAMP(NANOS), which Spark rejects unless this conf
    # is on (it then loads as epoch-nanos long).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC: date extraction from timestamps (to_date, dayofmonth, window)
    # must agree with the DuckDB oracle, which treats naive timestamps
    # as-is; pinning the session zone makes Spark's LTZ math equivalent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_event_ts(df)
    if name in _DATEISH:
        df = _normalize_dateish(df, _DATEISH[name])
    if name == "embeddings" and dict(df.dtypes).get("embedding") == "array<double>":
        # contract: array<float> (the current physical encoding); adapt a
        # future float64 generation the same way as the other drift guards
        df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
    if name in ("documents", "embeddings"):
        # These two tables feed per-row compute-heavy projections
        # (tokenization regexes, vector math) that run BEFORE the first
        # shuffle — at bench scale their single-row-group parquet scans
        # as 1 split, serializing that work on one core. spread() is a
        # conditional guard, a no-op whenever the scan already has
        # cluster-parallel splits (always true for a 100 TB table).
        df = spread(df)
    return df


def right_size_silver(df: DataFrame, rows_per_part: int = 250_000) -> DataFrame:
    """Materialize a persisted silver and RIGHT-SIZE its read parallelism
    (r14, guide §2.2/§6 — many tiny tasks are pure overhead): a silver
    built through session-width shuffles holds a few thousand narrow
    rows per partition at bench scale, so every consumer stage that
    rescans it pays ~32-64 task launches to move a few MB (measured
    ~300 ms per beam round on the hnsw search, ~700 ms per degree pass
    on the co-purchase graph). One build-time ``count()`` materializes
    the cache and sizes a ``coalesce`` wrapper to ≥1 partition per
    ``rows_per_part`` rows; the coalesce is narrow (no shuffle) and the
    guard is a no-op whenever the silver is already at-or-below the
    target rows/partition — i.e. at production scale, exactly like
    :func:`spread` in reverse."""
    import math

    n = df.count()  # build-time only: materializes the cache
    cur = df.rdd.getNumPartitions()
    parts = max(1, min(cur, math.ceil(n / rows_per_part)))
    return df.coalesce(parts) if parts < cur else df


def spread(df: DataFrame) -> DataFrame:
    """Parallelism guard for compute-heavy scans of small parquet inputs.

    A single-row-group parquet file scans as ONE split no matter what
    ``maxPartitionBytes`` says, so every per-row expression above the
    first exchange runs on one core (measured 2× on the sf0.1 sim family:
    ivf_topk 1.9s → 0.9s warm). If the scan yields fewer partitions than
    half the default parallelism, round-robin repartition to the full
    parallelism; otherwise return the input untouched. At production
    scale a large table scans as thousands of splits and this is a no-op
    — the guard inspects the planned partition count, it never
    unconditionally shuffles a big input.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


# Engine contract: date-like driver columns load as TIMESTAMP_NTZ (the
# current physical encoding, naive timestamp[us]). If a future testdata
# generation ships them as date32 or instant timestamps instead, adapt
# here — same drift-insurance posture as events.ts.
_DATEISH = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate", "l_commitdate", "l_receiptdate"],
}


def _normalize_dateish(df: DataFrame, cols: list[str]) -> DataFrame:
    dtypes = dict(df.dtypes)
    for c in cols:
        if dtypes.get(c) in ("date", "timestamp"):
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Engine contract: ``events.ts`` is epoch-nanos BIGINT, whatever the
    file's physical type. The driver's testdata has shipped both INT64
    TIMESTAMP(NANOS) (loads as long via nanosAsLong) and plain
    ``timestamp[us]`` (loads as TIMESTAMP_NTZ / TIMESTAMP) between rounds;
    adapt on dtype so every downstream query keeps the documented
    epoch-nanos arithmetic unchanged on ANY generation of the file.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "timestamp_ntz":
        # timezone-free: wall-clock micros since the naive epoch — exactly
        # DuckDB's epoch_us(ts) on the same naive value.
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        df = df.withColumn("ts", (micros * F.lit(1000)).cast("long"))
    elif dtype == "timestamp":
        # instant-typed: unix_micros is timezone-independent.
        df = df.withColumn("ts", (F.unix_micros("ts") * F.lit(1000)).cast("long"))
    return df


def dec(c: Column, scale: int) -> Column:
    """Snap a double to an exact decimal grid (see module docstring)."""
    return c.cast(T.DecimalType(38, scale))


def dsum(c: Column, scale: int) -> Column:
    """Order-independent sum: snap to decimal, sum exactly, emit double."""
    return F.sum(dec(c, scale)).cast("double")


def davg(c: Column, scale: int) -> Column:
    """Order-independent mean: exact decimal sum / count, in double."""
    return F.sum(dec(c, scale)).cast("double") / F.count(c)


# SQL-side equivalents for oracle strings
def sql_dsum(expr: str, scale: int) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS DOUBLE) / COUNT({expr}))"


_SILVERS: dict[tuple, DataFrame] = {}  # (builder, app id, sf_dir, *params) → frame


def silver(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Per-session silver: ``fn(spark, sf_dir, *params)`` builds once per
    key and every later equal call returns the same frame.

    The key is (fn, the session's ``applicationId``, sf_dir, params bound
    with defaults applied). Storing an entry evicts every entry owned by
    another applicationId: their RDDs died with their SparkContext, and
    the handles would otherwise stay pinned for the process lifetime.
    The body chooses and performs the pin (persist level, layout,
    ``localCheckpoint``, eager ``count``). ``fn.cache_clear()`` drops
    fn's entries, as with ``functools.lru_cache``."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def get(*args, **kwargs) -> DataFrame:
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        spark, *params = bound.arguments.values()
        app = spark.sparkContext.applicationId
        key = (fn, app, *params)
        if key not in _SILVERS:
            df = fn(*args, **kwargs)
            for stale in [k for k in _SILVERS if k[1] != app]:
                del _SILVERS[stale]
            _SILVERS[key] = df
        return _SILVERS[key]

    def cache_clear() -> None:
        for k in [k for k in _SILVERS if k[0] is fn]:
            del _SILVERS[k]

    get.cache_clear = cache_clear
    return get
