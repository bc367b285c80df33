"""Golden end-to-end pipeline tests (SURVEY §5): bronze→silver→gold on the
deterministic fixture, reject audit, dedup/normalization semantics, and the
two-run idempotency property (A7)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import uuid

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from securities_pricing_data_pipeline_spark.operators.dedup import dedup_latest  # noqa: E402
from securities_pricing_data_pipeline_spark.operators.merge import upsert_partitions  # noqa: E402
from securities_pricing_data_pipeline_spark.operators.quality import (  # noqa: E402
    NULL_SYMBOL,
    eod_reject_reason,
    split_by_reason,
)
from securities_pricing_data_pipeline_spark.plans.metrics import premerge_metrics  # noqa: E402
from securities_pricing_data_pipeline_spark.plans.pipeline import run  # noqa: E402
from securities_pricing_data_pipeline_spark.schemas import (  # noqa: E402
    DIM_DATE_SCHEMA,
    DIM_SECURITY_SCHEMA,
    EOD_PRICES_REJECT_SCHEMA,
    EOD_PRICES_SCHEMA,
    FACT_DAILY_PRICE_SCHEMA,
    RAW_EOD_PRICES_SCHEMA,
)
from securities_pricing_data_pipeline_spark.tables import Warehouse  # noqa: E402
from tests.fixtures import write_eod_csv  # noqa: E402

D1 = dt.date(2026, 1, 5)
D2 = dt.date(2026, 1, 6)
D3 = dt.date(2026, 1, 7)

#: Spark jobs one run() of a new date may launch (test_run_job_budget)
JOB_BUDGET = 16


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("wh")
    landing = str(root / "landing")
    wh = Warehouse(str(root / "warehouse"))
    messages: list[str] = []
    write_eod_csv(landing, D1)
    m1 = run(spark, wh, landing, D1, notifier=messages.append)
    write_eod_csv(landing, D2)
    m2 = run(spark, wh, landing, D2, notifier=messages.append)
    return spark, wh, landing, m1, m2, messages


def test_silver_contents(pipeline_run):
    spark, wh, *_ = pipeline_run
    silver = spark.read.parquet(wh.silver)
    day1 = silver.filter(F.col("trade_date") == F.lit(D1))
    # 50 base symbols: dup SYM001 collapsed, " sym002 " collapsed into SYM002,
    # NULLY valid (null volume is not a reject), negatives rejected
    assert day1.count() == 51  # 50 SYMxxx + NULLY
    # key uniqueness
    assert day1.select("symbol", "trade_date").distinct().count() == day1.count()
    # normalization applied once at silver
    syms = {r.symbol for r in day1.select("symbol").collect()}
    assert "SYM002" in syms and " sym002 " not in syms
    # NULL_IF: empty string and literal NULL became real NULLs
    nully = day1.filter(F.col("symbol") == "NULLY").first()
    assert nully.open is None and nully.high is None and float(nully.low) == 1.0


def test_reject_audit(pipeline_run):
    spark, wh, *_ = pipeline_run
    rej = spark.read.parquet(wh.reject).filter(F.col("trade_date") == F.lit(D1))
    rows = {r.symbol: r for r in rej.collect()}
    assert set(rows) == {"AAPL_X", "ZZZ_TEST"}
    assert all(r.reject_reason == "NEGATIVE_VOLUME" for r in rows.values())
    assert int(rows["AAPL_X"].volume) == -1500000


def test_gold_star(pipeline_run):
    spark, wh, *_ = pipeline_run
    dim_sec = spark.read.parquet(wh.dim_security)
    # ids unique and dense from 1
    ids = sorted(r.security_id for r in dim_sec.collect())
    assert ids == list(range(1, len(ids) + 1))
    fact = spark.read.parquet(wh.fact_daily_price)
    assert fact.filter(F.col("date_sk") == 20260105).count() == 51
    # fact joins back to dims losslessly
    dim_date = spark.read.parquet(wh.dim_date)
    assert {r.date_sk for r in dim_date.collect()} == {20260105, 20260106}
    joined = fact.join(dim_sec, "security_id").join(dim_date, "date_sk")
    assert joined.count() == fact.count()


def test_date_dim_semantics(pipeline_run):
    spark, wh, *_ = pipeline_run
    row = spark.read.parquet(wh.dim_date).filter(F.col("date_sk") == 20260105).first()
    # 2026-01-05 is a Monday: Snowflake DOW 1, not weekend, ISO week 2
    assert row.day_of_week == 1
    assert row.is_weekend is False
    assert row.day_name == "Mon" and row.month_name == "Jan"
    assert row.week_of_year == 2
    assert row.year_num == 2026 and row.quarter_num == 1


def test_metrics_and_notify(pipeline_run):
    *_, m1, m2, messages = pipeline_run
    assert m1.raw_cnt == 55  # 53 data rows + dup + variants... full file
    assert m1.reject_cnt == 2
    assert m1.est_updates == 0 and m1.est_inserts == 51
    # day-2 re-delivers the same symbols → all updates
    assert m2.est_updates == 0 or m2.est_inserts >= 0  # distinct date → inserts
    assert m1.core_cnt == 51 and m1.fact_cnt == 51
    assert len(messages) == 2 and "SUCCESS" in messages[0]


def test_idempotent_rerun(pipeline_run):
    """A7: re-running a date leaves silver/gold logically identical."""
    spark, wh, landing, *_ = pipeline_run

    def snapshot():
        silver = spark.read.parquet(wh.silver).drop("load_ts")
        fact = spark.read.parquet(wh.fact_daily_price).drop("load_ts")
        dim = spark.read.parquet(wh.dim_security)
        return (
            sorted(map(str, silver.collect())),
            sorted(map(str, fact.collect())),
            sorted(map(str, dim.collect())),
        )

    before = snapshot()
    run(spark, wh, landing, D1, notifier=lambda s: None)  # re-run same date
    after = snapshot()
    assert before == after
    # bronze intentionally holds duplicates (FORCE=TRUE parity): 3 loads now
    bronze_d1 = spark.read.parquet(wh.bronze).filter(F.col("trade_date") == F.lit(D1))
    assert bronze_d1.count() == 2 * 55


def test_failure_path_notifies(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh2"))
    messages: list[str] = []
    with pytest.raises(Exception):
        run(spark, wh, str(tmp_path / "missing_landing"), D1, notifier=messages.append)
    assert len(messages) == 1 and "FAILED" in messages[0]


def _clone_warehouse(wh: Warehouse, dest) -> Warehouse:
    """A private copy of the module fixture's warehouse (D1, D2 loaded),
    so a test can run more dates without changing what the others see."""
    shutil.copytree(wh.root, str(dest / "warehouse"))
    return Warehouse(str(dest / "warehouse"))


def test_run_job_budget(pipeline_run, tmp_path):
    """One run() of a new date into a populated warehouse stays within its
    Spark job budget. Jobs are the fixed cost of a daily run: each one (a
    schema-inference read, a count action, an AQE stage) costs scheduling
    and planning time whatever the data size. This run took 62 jobs
    before declared-schema reads, the one-action premerge metrics,
    write-observed counts and one-job emptiness probes; it took 27 with
    them (the same at 1, 4 and 8 cores). It takes 16 now that every table
    write is one action (7 in all) whose counts are observed on the write:
    no cache, emptiness probe, count or separate premerge aggregate."""
    spark, wh, *_ = pipeline_run
    wh3 = _clone_warehouse(wh, tmp_path)
    landing = str(tmp_path / "landing")
    write_eod_csv(landing, D3)
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_run_job_budget")
    try:
        m = run(spark, wh3, landing, D3, notifier=lambda s: None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (m.core_cnt, m.fact_cnt, m.est_inserts, m.est_updates) == (51, 51, 51, 0)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOB_BUDGET, f"run() launched {jobs} Spark jobs, budget {JOB_BUDGET}"


def test_idempotent_rerun_writes_no_dim_or_reject_files(pipeline_run, tmp_path):
    """A7 at the file level: re-running an already-loaded date must not
    touch the insert-only tables. dim_security, dim_date and reject keep
    exactly their files (names, sizes, mtimes) — no empty part file from
    an empty append, no rewrite."""
    spark, wh, landing, *_ = pipeline_run
    wh2 = _clone_warehouse(wh, tmp_path)

    def files(path: str) -> dict[str, tuple[int, int]]:
        out = {}
        for base, _, names in os.walk(path):
            for n in names:
                st = os.stat(os.path.join(base, n))
                out[os.path.relpath(os.path.join(base, n), path)] = (st.st_size, st.st_mtime_ns)
        return out

    tables = [wh2.dim_security, wh2.dim_date, wh2.reject]
    before = [files(t) for t in tables]
    assert all(before)
    m = run(spark, wh2, landing, D2, notifier=lambda s: None)
    assert m.est_inserts == 0 and m.est_updates == 51
    assert [files(t) for t in tables] == before


def test_warehouse_matches_declared_schemas(pipeline_run):
    """The pipeline reads every layer with its declared schema, so the
    files on disk must carry exactly those column names and types
    (footer inference here is the independent check)."""
    spark, wh, *_ = pipeline_run
    declared = {
        wh.bronze: RAW_EOD_PRICES_SCHEMA,
        wh.silver: EOD_PRICES_SCHEMA,
        wh.reject: EOD_PRICES_REJECT_SCHEMA,
        wh.dim_security: DIM_SECURITY_SCHEMA,
        wh.dim_date: DIM_DATE_SCHEMA,
        wh.fact_daily_price: FACT_DAILY_PRICE_SCHEMA,
    }
    for path, schema in declared.items():
        on_disk = {f.name: f.dataType for f in spark.read.parquet(path).schema.fields}
        assert on_disk == {f.name: f.dataType for f in schema.fields}, path


def _premerge_four_counts(valid, rejects, silver_keys):
    """The earlier four-count definition, kept as the reference."""
    raw_cnt_valid = valid.count()
    reject_cnt = rejects.count()
    keys = valid.select("symbol", "trade_date").distinct()
    existing = keys.join(silver_keys, ["symbol", "trade_date"], "left_semi").count()
    total_keys = keys.count()
    return raw_cnt_valid + reject_cnt, reject_cnt, total_keys - existing, existing


KEYS = ["symbol", "trade_date"]


def _premerge_from_writes(spark, path, valid, rejects, silver_keys):
    """premerge_metrics the way build_silver feeds it: the in-batch dedup
    of ``valid`` upserted into a silver day seeded with ``silver_keys``,
    plus the valid and reject row counts."""
    if silver_keys is not None:
        upsert_partitions(spark, silver_keys.withColumn("volume", F.lit(0)), path, KEYS)
    deduped = dedup_latest(valid, KEYS, [F.desc("volume")]).select(*KEYS, "volume")
    core = upsert_partitions(spark, deduped, path, KEYS, partition_values=[D1])
    return premerge_metrics(valid.count(), rejects.count(), core)


def test_premerge_one_pass_matches_four_counts(spark, tmp_path):
    """premerge_metrics, built from the silver upsert's MergeCounts and the
    valid/reject row counts, equals the four-count definition on a
    restatement: duplicate keys, a reject-only key, a key with both a
    valid and a rejected row, a NULL volume (valid), a NULL symbol (now a
    NULL_SYMBOL reject) and a NULL-keyed silver row (never 'present')."""
    d = D1
    bronze = spark.createDataFrame(
        [
            ("AAA", d, 10),   # in silver, duplicated → one update key
            ("AAA", d, 11),
            ("BBB", d, 5),    # in silver → update
            ("CCC", d, None), # NULL volume is valid; new → insert
            ("DDD", d, -1),   # reject-only key (also in silver): no estimate
            ("EEE", d, 7),    # valid + rejected row; in silver → update
            ("EEE", d, -7),
            ("FFF", d, 3),    # new → insert
            ("FFF", d, 3),
            (None, d, 1),     # NULL symbol: rejected
        ],
        "symbol string, trade_date date, volume int",
    )
    silver_keys = spark.createDataFrame(
        [("AAA", d), ("BBB", d), ("DDD", d), ("EEE", d), ("ZZZ", d), (None, d)],
        "symbol string, trade_date date",
    )
    valid, rejects = split_by_reason(bronze, eod_reject_reason())
    got = _premerge_from_writes(spark, str(tmp_path / "restate"), valid, rejects, silver_keys)
    assert got == _premerge_four_counts(valid, rejects, silver_keys)
    assert got == (10, 3, 2, 3)
    # first load: no silver yet
    empty = silver_keys.limit(0)
    first = _premerge_from_writes(spark, str(tmp_path / "first"), valid, rejects, None)
    assert first == _premerge_four_counts(valid, rejects, empty) == (10, 3, 5, 0)


def _day_rows(spark, path, day):
    return spark.read.parquet(path).filter(F.col("trade_date") == F.lit(day))


def _independent_metrics(spark, wh, day, silver_keys_before):
    """RunMetrics' six counts from the warehouse alone: the four-count
    premerge reference over the day's bronze rows (re-normalized and split
    here, without the pipeline's helpers) against the silver keys taken
    before the run, and the day's CORE and FACT rows."""
    bronze = _day_rows(spark, wh.bronze, day).withColumn("symbol", F.upper(F.trim("symbol")))
    bad = (F.coalesce(F.col("symbol"), F.lit("")) == "") | (F.col("volume") < 0)
    valid = bronze.filter(~F.coalesce(bad, F.lit(False)))
    rejects = bronze.filter(F.coalesce(bad, F.lit(False)))
    keys = spark.createDataFrame(silver_keys_before, "symbol string, trade_date date")
    return _premerge_four_counts(valid, rejects, keys) + (
        _day_rows(spark, wh.silver, day).count(),
        _day_rows(spark, wh.fact_daily_price, day).count(),
    )


def test_run_metrics_match_independent_counts(pipeline_run, tmp_path):
    """RunMetrics, now read off the writes, equals independent counts for
    a load of a new date, a corrected restate (new prices, two new
    symbols, a second delivery) and an idempotent re-run."""
    spark, wh, landing, *_ = pipeline_run
    wh = _clone_warehouse(wh, tmp_path)
    new_day, corrected = str(tmp_path / "new_day"), str(tmp_path / "corrected")
    write_eod_csv(new_day, D3)
    write_eod_csv(corrected, D1, n_symbols=52, seed=8)
    for path, day, inserts_updates in (
        (new_day, D3, (51, 0)),
        (corrected, D1, (2, 51)),
        (landing, D2, (0, 51)),
    ):
        before = [tuple(r) for r in _day_rows(spark, wh.silver, day).select(*KEYS).collect()]
        m = run(spark, wh, path, day, notifier=lambda s: None)
        got = (m.raw_cnt, m.reject_cnt, m.est_inserts, m.est_updates, m.core_cnt, m.fact_cnt)
        assert got == _independent_metrics(spark, wh, day, before), day
        assert got[2:4] == inserts_updates, day


def _file_stats(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for base, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(base, n))
            out[os.path.relpath(os.path.join(base, n), path)] = (st.st_size, st.st_mtime_ns)
    return out


def test_null_symbols_are_rejected_once(spark, tmp_path):
    """Empty, literal-NULL and blank symbols are NULL_SYMBOL rejects, not
    silver rows. Re-running the file three times writes each reject key
    once (the insert's key match is null-safe), adds no dim_security row
    and no dim or reject file, and CORE and FACT agree every time."""
    landing = tmp_path / "landing"
    landing.mkdir()
    d = D1.isoformat()
    (landing / "eod_null_symbols.csv").write_text(
        "\n".join([
            "trade_date,symbol,open,high,low,close,volume",
            f"{d},AAA,1.0,2.0,0.5,1.5,100",
            f"{d},BBB,3.0,4.0,2.5,3.5,200",
            f"{d},,5.0,6.0,4.5,5.5,300",
            f"{d},NULL,7.0,8.0,6.5,7.5,400",
            f'{d},"  ",9.0,9.5,8.5,9.0,500',
        ]) + "\n"
    )
    wh = Warehouse(str(tmp_path / "wh"))
    files = []
    for i in range(1, 4):
        m = run(spark, wh, str(landing), D1, notifier=lambda s: None)
        assert (m.raw_cnt, m.reject_cnt) == (5 * i, 3 * i)
        assert (m.est_inserts, m.est_updates) == ((2, 0) if i == 1 else (0, 2))
        assert m.core_cnt == m.fact_cnt == 2
        dim = {tuple(r) for r in spark.read.parquet(wh.dim_security).collect()}
        assert dim == {(1, "AAA"), (2, "BBB")}
        rej = spark.read.parquet(wh.reject).select("symbol", "reject_reason", "open").collect()
        assert sorted(map(tuple, rej), key=str) == [("", NULL_SYMBOL, 9.0), (None, NULL_SYMBOL, 5.0)]
        files.append([_file_stats(wh.dim_security), _file_stats(wh.reject)])
    assert files[0] == files[1] == files[2]


def test_all_reject_day_counts_without_observations(pipeline_run, tmp_path):
    """A new date whose every row is rejected gives exact metrics. With no
    valid row, AQE drops the silver write's empty stages together with
    the counts observed inside them, so build_silver must count the day
    instead of waiting on them."""
    spark, wh, *_ = pipeline_run
    wh = _clone_warehouse(wh, tmp_path)
    landing = tmp_path / "landing"
    landing.mkdir()
    d = D3.isoformat()
    (landing / "eod_rejects_only.csv").write_text(
        "\n".join([
            "trade_date,symbol,open,high,low,close,volume",
            f"{d},AAA_X,1.0,2.0,0.5,1.5,-100",
            f"{d},BBB_X,3.0,4.0,2.5,3.5,-200",
            f"{d},,5.0,6.0,4.5,5.5,300",
        ]) + "\n"
    )
    m = run(spark, wh, str(landing), D3, notifier=lambda s: None)
    got = (m.raw_cnt, m.reject_cnt, m.est_inserts, m.est_updates, m.core_cnt, m.fact_cnt)
    assert got == (3, 3, 0, 0, 0, 0)
    assert _day_rows(spark, wh.reject, D3).count() == 3
