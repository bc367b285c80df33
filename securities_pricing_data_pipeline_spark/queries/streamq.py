"""Streaming-executed gate queries: Structured Streaming in the
correctness gate, not just in pytest.

Each query here actually RUNS a streaming job — file-source
``readStream`` over the driver's events table, ``availableNow`` trigger,
memory sink — and returns the drained sink as a batch DataFrame, so the
driver's DuckDB oracle comparison value-checks real streaming execution:
watermarked windowed aggregation, watermarked stream dedup, and the
custom ``applyInPandasWithState`` sessionization operator.

Determinism contract (what makes a streaming run hash-comparable):
  * ``availableNow`` over the single-file parquet source drains in one
    micro-batch, so arrival order can't split sessions or windows across
    batches;
  * emitted columns are restricted to values that are arrival-order
    independent — window/group keys, exact counts, decimal-snapped sums,
    minute-floored session boundaries (the stateful operator keeps epoch
    floats in its state tuple: exact to ~0.4 µs, so second-level floors
    are razor-edge but minute-level floors are safe);
  * the sessionize oracle models the operator's actual emission rule —
    with one drained trigger and no timeout batch, only sessions CLOSED
    by a later event emit, i.e. every session except each user's last.

Scale posture: the same code paths run unbounded — the file source
becomes a notification-based source, ``availableNow`` becomes a
continuous trigger, the memory sink becomes a real sink; watermarks
bound all state (see streaming.ingest / streaming.stateful docstrings).

Reference scope note: the reference pipeline is strictly daily batch
(``dags/get_securities_data.py:40``); streaming is an extension family —
these gate entries exist so the extension is value-verified, not just
unit-tested.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.queries.helpers import _normalize_event_ts

#: gap used by the batch/stream sessionize twins (streaming.stateful)
_GAP_NS = 1_800_000_000_000

_mem_ids = itertools.count()


def _mem_name(tag: str) -> str:
    return f"gate_{tag}_{next(_mem_ids)}"


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frame over events.parquet with the engine's ts contract
    (epoch-nanos long, any physical encoding) plus an ``event_time``
    timestamp column — the streaming twin of ``helpers.load``."""
    # same session pins as helpers.load (idempotent; the gate may run on
    # the driver's vanilla session)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(path).schema  # footer-only
    # the file source wants a directory: scan sf_dir, glob to the one file
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = _normalize_event_ts(stream)
    return stream.withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))


def _drain(
    df: DataFrame,
    tag: str,
    output_mode: str,
    stop_when_drained: bool = False,
    state_partitions: int = 8,
) -> str:
    name = _mem_name(tag)
    spark = df.sparkSession
    # JVM state stores scale with shuffle partitions and each pays
    # per-batch commit overhead, so the JVM-state gate queries want few,
    # fat state partitions (32 measured 2.3x SLOWER on the interval
    # join). The applyInPandasWithState sessionizer is the opposite: its
    # per-partition cost is a PYTHON worker round, so it wants one
    # partition per core (32 measured 1.4x faster than 8) — hence the
    # per-query knob. (A live deployment sizes this to the cluster
    # instead — state partitioning is fixed at first start.)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    if stop_when_drained:
        # ProcessingTimeTimeout state keeps availableNow scheduling empty
        # micro-batches to fire future timeouts, so the query never
        # self-terminates. The gate wants exactly the data batches: wait
        # until all input is consumed (a trailing zero-input batch after
        # at least one data batch), then stop the query.
        import time

        while q.isActive:
            progs = q.recentProgress
            if (
                progs
                and any(p["numInputRows"] > 0 for p in progs)
                and progs[-1]["numInputRows"] == 0
            ):
                break
            time.sleep(0.05)
        q.stop()
    q.awaitTermination()
    return name


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate executed AS A STREAM
    (streaming.ingest.windowed_event_stats_stream), drained with
    availableNow into a memory sink. Shares its oracle semantics with the
    batch twin ``events_hourly_stats``: identical totals because the sum
    is decimal-snapped (order-independent) and the single-batch drain
    means the watermark never drops rows."""
    from securities_pricing_data_pipeline_spark.streaming.ingest import (
        windowed_event_stats_stream,
    )

    out = windowed_event_stats_stream(
        _event_stream(spark, sf_dir), watermark="90 days"
    )
    name = _drain(out, "hourly", "complete")
    return spark.table(name).select(
        "window_start_epoch", "event_type", "n_events", "total_value"
    )


def stream_events_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (dropDuplicatesWithinWatermark) over
    (user_id, event_type), projected to the key set — which rows survive
    keep-first dedup depends on arrival order, but the KEY SET is exactly
    the distinct keys, so the gate hashes that. Oracle: SELECT DISTINCT."""
    from securities_pricing_data_pipeline_spark.streaming.ingest import (
        dedup_event_stream,
    )

    dd = dedup_event_stream(
        _event_stream(spark, sf_dir).select("user_id", "event_type", "event_time"),
        keys=["user_id", "event_type"],
        watermark="90 days",
    )
    name = _drain(dd.select("user_id", "event_type"), "dedupkeys", "append")
    return spark.table(name).select("user_id", "event_type")


def stream_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition executed as a
    real dual-stream job (streaming.ingest.join_events_quotes_stream —
    the ONLY stream-stream formulation whose state is bounded: both sides
    watermarked, join condition bounds event-time distance, Spark evicts
    unjoinable rows). Clicks pair with same-user views from the trailing
    30 minutes; the inner-join result SET is arrival-order independent,
    and all emitted values ride the exact integer/double path (epoch
    micros, raw value) — no float re-derivation anywhere."""
    from securities_pricing_data_pipeline_spark.streaming.ingest import (
        join_events_quotes_stream,
    )

    ev = _event_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", F.col("user_id").alias("symbol"), "event_time"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("symbol"),
        F.col("event_time").alias("quote_time"),
        F.col("value").alias("price"),
    )
    joined = join_events_quotes_stream(
        clicks, views, max_delay_minutes=30, watermark="90 days"
    )
    name = _drain(joined, "ivjoin", "append")
    return spark.table(name).select(
        F.col("event_id").alias("click_id"),
        F.col("symbol").alias("user_id"),
        F.unix_micros("event_time").alias("click_us"),
        F.unix_micros("quote_time").alias("view_us"),
        F.col("price").alias("view_value"),
    )


def stream_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState gap
    sessionization, streaming.stateful.sessionize_stream) executed as a
    stream and value-checked end-to-end. Emission rule under one drained
    trigger: a session emits iff a LATER event of the same user closed it
    — each user's final (still-open) session stays in state and never
    reaches the sink. Emitted columns are the arrival-order-independent
    ones: user id, minute-floored session start, exact event count."""
    from securities_pricing_data_pipeline_spark.streaming.stateful import (
        sessionize_stream,
    )

    sess = sessionize_stream(
        _event_stream(spark, sf_dir).select("user_id", "event_time", "value")
    )
    name = _drain(
        sess,
        "sessionize",
        "append",
        stop_when_drained=True,
        state_partitions=spark.sparkContext.defaultParallelism,
    )
    return spark.table(name).select(
        "user_id",
        (F.floor(F.unix_timestamp("session_start") / 60) * 60)
        .cast("long")
        .alias("session_start_min_epoch"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def stream_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregate executed AS A STREAM
    (streaming.ingest.sliding_event_stats_stream, 1 hour window / 15 min
    slide): every event lands in 4 overlapping windows, so the sink holds
    a trailing-hour view per event_type refreshed each slide. Oracle
    models the overlap by cross-joining each event with its 4 slide
    offsets. Same determinism contract as the tumbling twin: decimal-
    snapped sums are arrival-order independent and the single availableNow
    drain means the watermark never drops rows."""
    from securities_pricing_data_pipeline_spark.streaming.ingest import (
        sliding_event_stats_stream,
    )

    out = sliding_event_stats_stream(
        _event_stream(spark, sf_dir), watermark="90 days"
    )
    name = _drain(out, "sliding", "complete")
    return spark.table(name).select(
        "window_start_epoch", "event_type", "n_events", "total_value"
    )


def stream_events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the 10 most active users by event count, emitted
    from a COMPLETE-mode aggregate with ORDER BY + LIMIT — the one
    output mode where Structured Streaming permits sorting, a dialect
    surface none of the other gate streams touch. Determinism: exact
    counts with a (count desc, user_id) total order; k-th-place count
    ties cannot admit different user sets because the tie-break is part
    of the sort. Scale posture: complete mode re-emits the whole result
    per trigger, which is only sane because the aggregate state is
    |users| counters and the sink k rows — the standard dashboard-leader
    board shape."""
    ev = _event_stream(spark, sf_dir)
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )
    name = _drain(top, "topk", "complete")
    return spark.table(name).select("user_id", "n_events")


def stream_events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the most common streaming join in
    production and the one pattern the other gate streams don't cover:
    the event stream joins a STATIC dimension (customer segment) that
    Spark re-broadcasts per micro-batch, so the stream stays stateless
    (no watermark, no state store — the static side is not a stream, so
    nothing buffers). Emitted rows are the joined tuples themselves:
    batching cannot change an inner equi-join's row set, which is what
    makes this gate hashable. Scale posture: dim broadcasts (or a
    bucketed shuffle join for a big dim); the stream side never
    repartitions."""
    from securities_pricing_data_pipeline_spark.queries.helpers import load

    ev = _event_stream(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    joined = ev.join(F.broadcast(dim), "user_id")
    name = _drain(joined, "enrich", "append")
    return spark.table(name).select("event_id", "user_id", "event_type", "segment", "value")


def _run_late_audit(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Shared engine for ``stream_events_late_audit``: run the 3-batch
    replay and return ``(memory sink name, total numRowsDroppedByWatermark)``
    so the gate query and the pytest assertion drive one code path."""
    import os
    import shutil
    import time
    import uuid
    from pathlib import Path

    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.streaming.ingest import (
        windowed_event_stats_stream,
    )

    tag = f"{_mem_name('lateaudit')}_{uuid.uuid4().hex[:12]}"
    base = Path(__file__).resolve().parents[2] / "spark-warehouse"
    feed_dir = base / f"{tag}_feed"
    tmp_dir = base / f"{tag}_tmp"
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value", "ts")
    try:
        feed_dir.mkdir(parents=True)
        t0 = time.time() - 600
        for b in range(3):
            ev.filter(F.col("event_id") % 3 == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(tmp_dir))
            part = next(p for p in os.listdir(tmp_dir) if p.endswith(".parquet"))
            dst = feed_dir / f"{b:03d}_batch.parquet"
            shutil.move(str(tmp_dir / part), str(dst))
            # file order IS batch order: both sort keys the source may use
            # (mod-time, path) agree — names ascend AND mtimes ascend
            os.utime(dst, (t0 + 100 * b, t0 + 100 * b))
        schema = spark.read.parquet(str(feed_dir)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed_dir))
            .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        )
        out = windowed_event_stats_stream(stream, watermark="45 minutes")
        name = _mem_name("lateaudit_sink")
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        q.awaitTermination()
        dropped = sum(
            o["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for o in p["stateOperators"]
        )
        return name, dropped
    finally:
        shutil.rmtree(str(feed_dir), ignore_errors=True)
        shutil.rmtree(str(tmp_dir), ignore_errors=True)


def stream_events_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data handling exercised FOR REAL: the events table
    replays as three micro-batches (event_id mod 3, file order pinned by
    both name and mtime), a 45-minute watermark trails the stream, and the
    append-mode sink receives only the windows the watermark actually
    closed — with batch-3 stragglers older than the horizon genuinely
    dropped by the state store (numRowsDroppedByWatermark > 0, asserted
    in pytest). None of the other stream gates let the watermark bite;
    this one is the late-data contract under test.

    Oracle model (semantics pinned empirically on this Spark version):
      * the late filter in batch N uses the watermark computed from data
        through batch N-2 — so batch-0/1 rows always land, and a batch-2
        row survives iff its window END exceeds
        ``max(batch-0 event-time ms) - 45 min``;
      * eviction/emission uses the watermark through batch N-1, and
        availableNow runs a trailing flush batch, so exactly the windows
        with ``end <= max(all event-time ms) - 45 min`` reach the sink.

    Scale posture: identical to the production shape — file-per-interval
    landing replayed with maxFilesPerTrigger, watermark bounds the state
    store to one horizon of open windows, and everything after the scan
    is the same windowed aggregate the hourly gate runs."""
    name, _ = _run_late_audit(spark, sf_dir)
    return spark.table(name).select(
        "window_start_epoch", "event_type", "n_events", "total_value"
    )


def stream_events_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the events feed is split into 8 files and
    replayed as GENUINE multi-batch streaming (``maxFilesPerTrigger=1``),
    and ``foreachBatch`` MERGEs each micro-batch into a keyed serving
    table — reduce the batch to one winner per user, union with the
    current table, re-reduce, atomically republish. The output is the
    final table: each user's last event by the (ts, event_id) total
    order. This is THE canonical Structured Streaming sink pattern for
    engines without a transactional-table dependency (foreachBatch +
    MERGE, the streaming twin of ``operators.merge``).

    Determinism: last-writer-wins under a TOTAL order is associative and
    commutative, so the final table is independent of batch boundaries
    and file arrival order — that's exactly what makes a CDC apply
    restart-safe in production, and what makes this gate hashable.

    Scale posture: per batch the merge touches |batch keys ∪ table keys|
    rows; with a transactional format the union+rewrite becomes a keyed
    MERGE INTO touching only matched files. State lives in the table,
    not executor memory — the pattern Spark itself recommends for
    arbitrary-size upsert state. The 8-file split stands in for a real
    feed's file-per-interval landing (the EOD landing directory that
    ``streaming.ingest.stream_ingest_eod`` watches has the same shape:
    one file per trading date)."""
    import shutil
    import uuid
    from pathlib import Path

    from securities_pricing_data_pipeline_spark.queries.helpers import load

    # uuid-suffixed dirs: the per-process _mem_name counter restarts at 0
    # in every process, so a crashed earlier run's leftover _state dir
    # under the same name would be silently folded into this run's merge
    # (the Path.exists() gate below can't tell stale from live). A fresh
    # uuid makes collision impossible; the finally below handles cleanup
    # even on mid-stream failure.
    tag = f"{_mem_name('cdc')}_{uuid.uuid4().hex[:12]}"
    base = Path(__file__).resolve().parents[2] / "spark-warehouse"
    feed_dir = str(base / f"{tag}_feed")
    state_dir = str(base / f"{tag}_state")

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    ev.repartition(8, "user_id").write.mode("overwrite").parquet(feed_dir)

    # the apply unit is merge.merge_batch — one winner per user by the
    # (ts, event_id) total order, re-reduced against the table
    from securities_pricing_data_pipeline_spark.operators import merge

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        merge.merge_batch(
            batch.sparkSession,
            batch,
            state_dir,
            keys=["user_id"],
            order_cols=["ts", "event_id"],
        )

    try:
        stream = (
            spark.readStream.schema(spark.read.parquet(feed_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        final = spark.read.parquet(state_dir).select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(state_dir, ignore_errors=True)


QUERIES = {
    "stream_events_hourly": stream_events_hourly,
    "stream_events_late_audit": stream_events_late_audit,
    "stream_events_enrich": stream_events_enrich,
    "stream_events_cdc_upsert": stream_events_cdc_upsert,
    "stream_events_topk_users": stream_events_topk_users,
    "stream_events_sliding": stream_events_sliding,
    "stream_events_dedup_keys": stream_events_dedup_keys,
    "stream_events_interval_join": stream_events_interval_join,
    "stream_events_sessionize": stream_events_sessionize,
}

ORACLES = {
    # last writer per user under the (ts, event_id) total order
    "stream_events_cdc_upsert": """
SELECT user_id,
       epoch_ns(ts) AS last_ts,
       event_id AS last_event_id,
       event_type AS last_event_type,
       value AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
""",
    # identical to the batch twin events_hourly_stats' oracle
    # late-audit twin: the filter/eviction watermark model documented on
    # stream_events_late_audit — batch-2 rows survive only past the
    # batch-0 horizon; only windows closed by the final horizon emit
    "stream_events_late_audit": """
WITH ev AS (
  SELECT event_id, event_type, value,
         epoch_ns(ts) // 1000 AS us,
         event_id % 3 AS b
  FROM events
), h AS (
  SELECT ((MAX(us) // 1000) - 2700000) * 1000 AS wm2_us FROM ev WHERE b = 0
), fin AS (
  SELECT ((MAX(us) // 1000) - 2700000) * 1000 AS wmf_us FROM ev
), kept AS (
  SELECT e.event_type, e.value, e.us,
         ((e.us // 3600000000) + 1) * 3600000000 AS wend_us
  FROM ev e, h
  WHERE e.b <= 1 OR ((e.us // 3600000000) + 1) * 3600000000 > h.wm2_us
)
SELECT (kept.wend_us // 3600000000 - 1) * 3600 AS window_start_epoch,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM kept, fin
WHERE kept.wend_us <= fin.wmf_us
GROUP BY 1, 2
""",
    "stream_events_enrich": """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment, e.value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
""",
    "stream_events_hourly": """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
         AS window_start_epoch,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    # each event belongs to the 4 slide-aligned windows covering it:
    # starts bucket(ts,15m) - k*900 for k in 0..3 (epoch-aligned grids in
    # both engines: Spark windows and DuckDB time_bucket origins are both
    # multiples of 900s)
    "stream_events_sliding": """
WITH shifts AS (SELECT unnest(range(4)) AS k)
SELECT CAST(epoch(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))) AS BIGINT)
         - k * 900 AS window_start_epoch,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events, shifts
GROUP BY 1, 2
""",
    "stream_events_topk_users": """
SELECT user_id, COUNT(*) AS n_events
FROM events GROUP BY 1
ORDER BY n_events DESC, user_id
LIMIT 10
""",
    "stream_events_dedup_keys": """
SELECT DISTINCT user_id, event_type FROM events
""",
    "stream_events_interval_join": """
SELECT a.event_id AS click_id,
       a.user_id,
       epoch_us(a.ts) AS click_us,
       epoch_us(b.ts) AS view_us,
       b.value AS view_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
""",
    # sessions closed by a later event = all sessions except each user's
    # last; session boundaries floored to the minute (see module doc)
    "stream_events_sessionize": f"""
WITH flagged AS (
  SELECT user_id, epoch_ns(ts) AS tns,
         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts))
                OVER (PARTITION BY user_id ORDER BY ts) > {_GAP_NS}
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, tns,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY tns
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id,
         MIN(tns) AS start_ns, COUNT(*) AS n_events
  FROM numbered GROUP BY 1, 2
)
SELECT s.user_id,
       CAST(floor(s.start_ns / 60000000000) * 60 AS BIGINT)
         AS session_start_min_epoch,
       CAST(s.n_events AS BIGINT) AS n_events
FROM sess s
JOIN (SELECT user_id, MAX(session_id) AS max_sid FROM sess GROUP BY 1) m
  ON s.user_id = m.user_id AND s.session_id < m.max_sid
""",
}


def _write_range_feed(
    df: DataFrame, key_col: str, feed_dir, tmp_dir, n_batches: int = 4
) -> None:
    """Replay-feed builder: split ``df`` into ``n_batches`` KEY-RANGED
    parquet files under ``feed_dir`` with ascending mtimes (mtime order =
    range order, the micro-batch arrival contract).

    r14 (guide §2.4): the r13 loop ran one filter + coalesce(1) + write
    JOB PER FILE (4 sequential source scans); this builds the same split
    in ONE job — same integer cut boundaries (lo + span·b//n), bucketed
    with a when-chain and written with partitionBy, so each bucket lands
    as a single file (repartition on the bucket key puts all of a
    bucket's rows in one task). Row ORDER within a file is not preserved
    — every stateful consumer (cusum_fn, lsh_dedup_fn) sorts within the
    batch, and the oracles are defined on (key, id) total orders, so
    file-internal order was never load-bearing. Empty buckets still get
    a file (schema-only write), exactly like the old coalesce(1) path."""
    import os
    import shutil
    import time
    from pathlib import Path

    feed_dir, tmp_dir = Path(feed_dir), Path(tmp_dir)
    lo, hi, n_null = df.agg(
        F.min(key_col), F.max(key_col), F.sum(F.col(key_col).isNull().cast("int"))
    ).first()
    if lo is None or hi is None:
        # ADVICE r13 discipline: an empty input must fail with the
        # precondition, not an int(None) TypeError three frames deep
        raise ValueError(
            f"_write_range_feed: input has no rows (min/max of {key_col!r} "
            "is NULL) — a replay feed needs a non-empty keyed table"
        )
    if n_null:
        # ADVICE r14: the bucket when-chain would route NULL keys to the
        # last batch (r13's range filters silently dropped them) — neither
        # is a defined feed semantics, so make the precondition explicit.
        raise ValueError(
            f"_write_range_feed: {n_null} NULL {key_col!r} rows — the range "
            "feed's bucket map is defined on non-null keys only"
        )
    lo, hi = int(lo), int(hi)
    span = hi - lo + 1
    cuts = [lo + span * b // n_batches for b in range(n_batches + 1)]
    col = F.col(key_col)
    bucket = F.when(col < F.lit(cuts[1]), 0)
    for b in range(1, n_batches - 1):
        bucket = bucket.when(col < F.lit(cuts[b + 1]), b)
    bucket = bucket.otherwise(n_batches - 1)
    (
        df.withColumn("__b", bucket)
        .repartition(n_batches, "__b")
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(str(tmp_dir))
    )
    feed_dir.mkdir(parents=True)
    t0 = time.time() - 600
    empty = None
    for b in range(n_batches):
        dst = feed_dir / f"{b:03d}_range.parquet"
        part_dir = tmp_dir / f"__b={b}"
        if part_dir.is_dir():
            pf = next(p for p in os.listdir(part_dir) if p.endswith(".parquet"))
            shutil.move(str(part_dir / pf), str(dst))
        else:
            # bucket with no rows: write one schema-only file so the
            # stream still sees n_batches triggers (old-path parity)
            if empty is None:
                empty = df.limit(0)
            empty.coalesce(1).write.mode("overwrite").parquet(str(tmp_dir / "__e"))
            pf = next(
                p for p in os.listdir(tmp_dir / "__e") if p.endswith(".parquet")
            )
            shutil.move(str(tmp_dir / "__e" / pf), str(dst))
        os.utime(dst, (t0 + 100 * b, t0 + 100 * b))


def stream_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE Page–Hinkley drift detection executed as a genuine
    multi-batch stream (``streaming.stateful.cusum_stream``) — the
    streaming twin of the batch closed form in
    ``events_cusum_changepoint``. The feed is split into 4
    time-partitioned files replayed one per micro-batch, so the per-key
    state (M, running min, n, alarms — four longs) demonstrably carries
    across batches; because the statistic is integer-exact and the file
    ranges are disjoint in ts, the final snapshot equals the batch
    closed form over the whole (ts, event_id)-ordered series, which is
    exactly what the DuckDB oracle computes. Output: final cumulative
    row per event_type."""
    import shutil
    import uuid
    from pathlib import Path

    from pyspark.sql import Window

    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.streaming.stateful import cusum_stream

    tag = f"{_mem_name('cusum')}_{uuid.uuid4().hex[:12]}"
    base = Path(__file__).resolve().parents[2] / "spark-warehouse"
    feed_dir = base / f"{tag}_feed"
    tmp_dir = base / f"{tag}_tmp"
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")
    try:
        _write_range_feed(ev, "ts", feed_dir, tmp_dir)  # mtime order = ts order
        schema = spark.read.parquet(str(feed_dir)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed_dir))
        )
        # r14: state partitions sized to KEY cardinality, not core count —
        # cusum keys on event_type (a handful of groups), so session-width
        # state (32) meant ~27 empty state stores paying per-batch commit
        # overhead (measured 6.0s → 3.7s median at 8). The lsh-dedup
        # stream keeps session width: its ~20k buckets need the Python
        # parallelism (the per-query knob _drain documents).
        name = _drain(cusum_stream(stream), "cusum", "update")
        w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
        return (
            spark.table(name)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)  # final cumulative snapshot per key
            .select("event_type", "n_seen", "m_units", "ph_units", "n_alarms")
            .orderBy("event_type")
            .localCheckpoint(eager=True)  # pin before the feed dir is removed
        )
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(tmp_dir, ignore_errors=True)


QUERIES["stream_events_cusum"] = stream_events_cusum

ORACLES["stream_events_cusum"] = """
WITH x AS (
  SELECT event_type, epoch_ns(ts) AS tsn, event_id,
         CAST(round(value * 100) AS BIGINT) - 5000 AS d
  FROM events
), m AS (
  SELECT event_type, tsn, event_id, d,
         SUM(d) OVER (PARTITION BY event_type ORDER BY tsn, event_id) AS m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tsn DESC, event_id DESC)
           AS rn_desc
  FROM x
), ph AS (
  SELECT event_type, rn_desc, m,
         m - LEAST(0, MIN(m) OVER (PARTITION BY event_type ORDER BY tsn, event_id))
           AS ph
  FROM m
)
SELECT event_type,
       COUNT(*) AS n_seen,
       CAST(MAX(CASE WHEN rn_desc = 1 THEN m END) AS BIGINT) AS m_units,
       CAST(MAX(CASE WHEN rn_desc = 1 THEN ph END) AS BIGINT) AS ph_units,
       CAST(SUM(CASE WHEN ph > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
FROM ph GROUP BY event_type
ORDER BY event_type
"""


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-TIME incremental near-dup dedup executed as a genuine
    multi-batch stream — the composition of the repo's two deepest
    surfaces (MinHash/LSH dedup + stateful streaming), and the shape a
    crawl pipeline actually deploys: documents arrive in id-ordered
    micro-batches (4 files, one per trigger), MinHash signatures are
    computed MAP-SIDE on the stream (the array_min expression form —
    no shuffle, no aggregation before the stateful operator), each
    signature's 16 band slices key an ``applyInPandasWithState``
    operator whose per-bucket state is ONE long (the smallest id ever
    seen there), and a document landing in an occupied bucket is
    flagged against that canonical earlier id.

    Because arrival order equals doc_id order (id-ranged feed files)
    and the bucket key is the exact band slice, the drained result is
    EXACTLY the batch closed form the DuckDB oracle computes: doc d is
    a candidate dup iff some d' < d shares a band, matched to the
    minimum such d'. Output: every document with its dup flag and
    first_dup_of (NULL for originals)."""
    import shutil
    import uuid
    from pathlib import Path

    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        minhash_signatures,
        shingles,
    )
    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.streaming.stateful import (
        lsh_dedup_stream,
    )

    tag = f"{_mem_name('lshdedup')}_{uuid.uuid4().hex[:12]}"
    base = Path(__file__).resolve().parents[2] / "spark-warehouse"
    feed_dir = base / f"{tag}_feed"
    tmp_dir = base / f"{tag}_tmp"
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    try:
        _write_range_feed(docs, "doc_id", feed_dir, tmp_dir)  # mtime = id order
        schema = spark.read.parquet(str(feed_dir)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed_dir))
        )
        sig = minhash_signatures(shingles(stream), id_col="doc_id", portable=True)
        rpb = 4  # 64 hashes / 16 bands
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("signature", i * rpb + j + 1).cast("string")
                            for j in range(rpb)
                        ],
                    ).alias("bkey"),
                )
                for i in range(16)
            ]
        )
        banded = (
            sig.select(F.col("id").alias("doc_id"), F.explode(band_structs).alias("bb"))
            .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
        )
        name = _drain(
            lsh_dedup_stream(banded),
            "lshdedup",
            "update",
            state_partitions=spark.sparkContext.defaultParallelism,
        )
        m = spark.table(name).groupBy("doc_id").agg(
            F.min("matched_id").alias("first_dup_of")
        )
        return (
            load(spark, sf_dir, "documents")
            .select("doc_id")
            .join(m, "doc_id", "left")
            .select(
                "doc_id",
                F.col("first_dup_of").isNotNull().alias("is_dup"),
                "first_dup_of",
            )
            .orderBy("doc_id")
            .localCheckpoint(eager=True)  # pin before the feed dir is removed
        )
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(tmp_dir, ignore_errors=True)


QUERIES["stream_dedup_incremental"] = stream_dedup_incremental


def _stream_dedup_oracle_sql(num_hashes: int = 64, bands: int = 16) -> str:
    """Batch closed form of the ingest-time gate: same shingle → hash →
    MinHash signature pipeline as _minhash_oracle_sql (imported from
    llmq so the two stay in lockstep), candidates by band equality with
    a.doc_id < b.doc_id, min earlier id per later doc, left-joined onto
    the full document spine."""
    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        _MERSENNE,
        minhash_params,
    )
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        _SHINGLES_CTE,
        _phash_sql,
    )

    params = minhash_params(num_hashes)
    rpb = num_hashes // bands
    mins = ",\n         ".join(
        f"MIN((h * {a} + {b}) % {_MERSENNE}) AS m{j}" for j, (a, b) in enumerate(params)
    )
    band_eq = " OR ".join(
        "(" + " AND ".join(f"a.m{i * rpb + j} = b.m{i * rpb + j}" for j in range(rpb)) + ")"
        for i in range(bands)
    )
    return f"""
WITH {_SHINGLES_CTE}, hs AS (
  SELECT doc_id, {_phash_sql('g')} % {_MERSENNE} AS h FROM sh
), sig AS (
  SELECT doc_id,
         {mins}
  FROM hs GROUP BY doc_id
), p AS (
  SELECT b.doc_id AS doc_id, MIN(a.doc_id) AS first_dup_of
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_eq})
  GROUP BY 1
)
SELECT d.doc_id, (p.first_dup_of IS NOT NULL) AS is_dup, p.first_dup_of
FROM documents d LEFT JOIN p USING (doc_id)
ORDER BY d.doc_id
"""


ORACLES["stream_dedup_incremental"] = _stream_dedup_oracle_sql()


def stream_docs_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-TIME quality/langid gate executed as a 2-batch stream —
    the stateless front of the filter funnel running where it actually
    runs in production (documents are gated AS THEY ARRIVE, not in a
    nightly batch): the full Gopher rule bundle
    (``llmdata.text.gopher_rules`` — integer cross-multiplied
    thresholds, pure narrow projection) and the heuristic language ID
    (``llmdata.text.lang_id`` — stopword/CJK argmax) both apply
    MAP-SIDE on the stream with no state store at all (append mode),
    and the drained per-document decisions aggregate to the
    per-(language, verdict) admission table a crawl operator watches.
    Stateless gates are arrival-order independent, so the drained
    result equals the batch closed form row-for-row."""
    import shutil
    import uuid
    from pathlib import Path

    from securities_pricing_data_pipeline_spark.llmdata.text import (
        gopher_rules,
        lang_pred,
    )
    from securities_pricing_data_pipeline_spark.queries.helpers import load

    tag = f"{_mem_name('qgate')}_{uuid.uuid4().hex[:12]}"
    base = Path(__file__).resolve().parents[2] / "spark-warehouse"
    feed_dir = base / f"{tag}_feed"
    tmp_dir = base / f"{tag}_tmp"
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    try:
        _write_range_feed(docs, "doc_id", feed_dir, tmp_dir, n_batches=2)
        schema = spark.read.parquet(str(feed_dir)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed_dir))
        )
        # both gates are STATELESS map-side projections of the arriving
        # row, so they stack in ONE scan-fused projection and drain
        # through ONE append-mode sink (no state store anywhere). r13 ran
        # two separate streams (one per gate) and joined the drained
        # tables — a second full drain bought nothing: the verdicts are
        # per-row expressions over the same arriving row (r14, guide
        # §2.4; measured ~2s of the query was the second drain).
        gated = gopher_rules(
            stream.withColumn("pred_lang", lang_pred("text")),
            keep_cols=("pred_lang",),
        ).select("doc_id", "pred_lang", "n_words", "gopher_pass")
        name_g = _drain(gated, "qgate", "append")
        return (
            spark.table(name_g)
            .groupBy("pred_lang", "gopher_pass")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_words").cast("long").alias("total_words"),
            )
            .orderBy("pred_lang", "gopher_pass")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(tmp_dir, ignore_errors=True)


QUERIES["stream_docs_quality_gate"] = stream_docs_quality_gate


def _quality_gate_oracle_sql() -> str:
    """Batch closed form of the ingest gate: the committed Gopher and
    heuristic-langid oracles (imported from llmq so all three stay in
    lockstep) joined per document, aggregated to the admission table."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        ORACLES as _LLMQ_ORACLES,
    )

    gr = _LLMQ_ORACLES["text_gopher_rules"]
    lid = _LLMQ_ORACLES["text_lang_id"]
    return f"""
WITH gr AS (SELECT doc_id, n_words, gopher_pass FROM ({gr})),
lid AS (SELECT doc_id, pred_lang FROM ({lid}))
SELECT l.pred_lang, g.gopher_pass,
       COUNT(*) AS n_docs, CAST(SUM(g.n_words) AS BIGINT) AS total_words
FROM gr g JOIN lid l USING (doc_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


ORACLES["stream_docs_quality_gate"] = _quality_gate_oracle_sql()


def stream_emb_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-TIME semantic gate executed as a genuine 3-batch stream —
    the embedding-space member of the streaming filter funnel, next to
    the stateless text gate (``stream_docs_quality_gate``) and the
    stateful LSH dedup (``stream_dedup_incremental``), and the streaming
    twin of the batch outlier report (``llmq.emb_semantic_outliers``):
    vectors arrive in id-ranged micro-batches, each is assigned MAP-SIDE
    to its nearest broadcast centroid (the trained-quantizer deployment
    shape — 16 centroid vectors collected once and baked into the Arrow
    kernel; exact grid cosine, ``(cos DESC, centroid_id ASC)`` argmax),
    and a 4-long-per-centroid ``applyInPandasWithState`` operator keeps
    running (count, Σ cos-units, min cos-units, flagged<0.12 count).

    Every statistic is an exact-integer fold over the 1e-12 cosine grid
    (the flag compares UNITS, never doubles), so the drained final
    snapshot per centroid equals the batch closed form regardless of
    arrival order — the DuckDB oracle value-checks real streaming
    execution. Output: per centroid the member count, flagged count, and
    min/mean typicality — the table an ingest operator watches to see a
    drifting or garbage-emitting upstream encoder."""
    import shutil
    import uuid
    from pathlib import Path

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        _round_half_away_np,
    )
    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.streaming.stateful import (
        emb_outlier_stats_stream,
    )

    tag = f"{_mem_name('embgate')}_{uuid.uuid4().hex[:12]}"
    base = Path(__file__).resolve().parents[2] / "spark-warehouse"
    feed_dir = base / f"{tag}_feed"
    tmp_dir = base / f"{tag}_tmp"
    emb = load(spark, sf_dir, "embeddings")
    # the trained quantizer: collected ONCE on the driver (k=16 vectors)
    # and closed over by the Arrow kernel — at scale this is a broadcast
    # of the k×dim codebook, exactly how IVF assignment deploys
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < 16).collect(), key=lambda r: r.vec_id
    )
    if not cent_rows:
        raise ValueError(
            "stream_emb_outlier_gate: no centroid vectors — the quantizer "
            "needs corpus ids in [0, 16) (the nsw_topk dense-id "
            "precondition style); an empty/offset embeddings table must "
            "remap ids or raise rather than stream against k=0 centroids"
        )
    cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    C = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    cn = _round_half_away_np(C * C * 1e13).sum(axis=1)  # grid self-dots
    try:
        _write_range_feed(emb, "vec_id", feed_dir, tmp_dir, n_batches=3)
        schema = spark.read.parquet(str(feed_dir)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed_dir))
        )

        def _assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                nv = _round_half_away_np(V * V * 1e13).sum(axis=1)
                dots = np.stack(
                    [
                        _round_half_away_np(V * C[j] * 1e13).sum(axis=1)
                        for j in range(len(C))
                    ],
                    axis=1,
                )
                denom = np.sqrt(nv[:, None] * cn[None, :])
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = dots / denom
                cos[~np.isfinite(cos)] = 0.0  # zero-norm convention
                a = np.argmax(cos, axis=1)  # first max ⇒ min centroid_id
                best = cos[np.arange(len(V)), a]
                yield pd.DataFrame(
                    {
                        "centroid_id": cids[a],
                        "cos_units": _round_half_away_np(best * 1e12).astype(
                            np.int64
                        ),
                    }
                )

        assigned = stream.mapInPandas(_assign, "centroid_id long, cos_units long")
        name = _drain(emb_outlier_stats_stream(assigned), "embgate", "update")
        snap = spark.table(name)
        # n_members grows strictly on every emission, so max-n per key IS
        # the final drained snapshot
        w = Window.partitionBy("centroid_id").orderBy(F.desc("n_members"))
        return (
            snap.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "centroid_id",
                "n_members",
                "n_flagged",
                (F.col("min_cos_units").cast("double") / F.lit(1e12)).alias(
                    "min_cos"
                ),
                (
                    F.col("sum_cos_units").cast("double")
                    / F.col("n_members").cast("double")
                    / F.lit(1e12)
                ).alias("mean_cos"),
            )
            .orderBy("centroid_id")
            .localCheckpoint(eager=True)  # pin before the feed dir is removed
        )
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(tmp_dir, ignore_errors=True)


QUERIES["stream_emb_outlier_gate"] = stream_emb_outlier_gate


def _emb_outlier_gate_oracle_sql() -> str:
    """Batch closed form of the streaming semantic gate: the SAME
    nearest-centroid assignment CTEs as the emb_semantic_outliers oracle
    (exact grid cosine, (cos DESC, centroid_id ASC) argmax), cosines
    snapped to 1e-12 BIGINT units, grouped to per-centroid stats. The
    flag threshold compares integer units — imported from the stateful
    kernel so the two can never drift."""
    from securities_pricing_data_pipeline_spark.queries.llmq import _cos_expr
    from securities_pricing_data_pipeline_spark.streaming.stateful import (
        EMB_OUTLIER_FLAG_UNITS,
    )

    cos = _cos_expr("t.vec", "c.cvec")
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), cent AS (
  SELECT vec_id AS centroid_id, vec AS cvec FROM v WHERE vec_id < 16
), assigned AS (
  SELECT id, centroid_id, cos FROM (
    SELECT t.vec_id AS id, c.centroid_id, {cos} AS cos,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {cos} DESC, c.centroid_id) AS rn
    FROM v t, cent c
  ) WHERE rn = 1
), units AS (
  SELECT centroid_id, CAST(round(cos * 1e12) AS BIGINT) AS u FROM assigned
)
SELECT centroid_id,
       COUNT(*) AS n_members,
       CAST(SUM(CASE WHEN u < {EMB_OUTLIER_FLAG_UNITS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(MIN(u) AS DOUBLE) / 1e12 AS min_cos,
       CAST(SUM(u) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e12 AS mean_cos
FROM units
GROUP BY centroid_id
ORDER BY centroid_id
"""


ORACLES["stream_emb_outlier_gate"] = _emb_outlier_gate_oracle_sql()
