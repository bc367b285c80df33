"""Benchmark of the securities engine through its public functions.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a source checkout of the engine on ``local[<cores>]``
in one driver process with one client thread, in a closed loop: each op
starts only after the previous one, and its correctness check, completed.
The inputs are generated from ``--seed`` under ``.perfbench_work/``; the
engine receives only those files. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run also writes its spans to ``.perfbench_work/traces/``.

Workloads (see ``perfbench/README.md`` for why each exists):

* ``eod_load_and_restate`` — the daily EOD pipeline (``plans.pipeline.run``)
  over ~6,000-symbol landing files: the ops alternate between loading the
  next trading day into the warehouse and re-delivering an already-loaded
  day, either a corrected file for a subset of symbols or an exact
  idempotent re-run.
* ``dashboard_and_corpus_queries`` — passes over a shuffled mix of serving
  queries on the bars silver and a corpus text query from the
  ``__spark_entry__.queries()`` registry.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import importlib
import importlib.util
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

T0 = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
ENGINE = "securities_pricing_data_pipeline_spark"

DRIVER_MEMORY = "2g"
#: fewest ``run()`` calls an EOD run times, whatever --seconds says: one
#: load and one restate (a traced run adds a warm load, to compare against
#: an untraced one)
MIN_OPS = 2
#: fewest warm passes a query run times, whatever --seconds says
MIN_WARM_PASSES = 2

SERVING_MIX = [
    "q1_market_totals", "q2_rolling_liquidity", "q3_liquidity_rank",
    "q5_daily_returns", "q6_top_volume", "q7_volatility_topk",
    "q10_zscore_anomalies", "q12_max_drawdown", "q13_beta",
    "q14_top_corr_pairs", "flagship_liquidity_top20", "q24_macd",
]
CORPUS_MIX = ["text_tfidf_topterms"]
QUERY_MIX = SERVING_MIX + CORPUS_MIX
#: scale factor of the generated query tables (lineitem = 6M x sf rows)
QUERY_SF = 0.005
INPUT_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

PIPELINE_STAGES = ["ingest_bronze", "build_silver", "build_dim_security", "build_dim_date", "build_fact"]
#: pipeline-module global -> span name (= metric prefix)
PIPELINE_SPANS = {
    **{s: f"plans.pipeline.{s}" for s in PIPELINE_STAGES},
    "premerge_metrics": "plans.metrics.premerge_metrics",
    "postmerge_counts": "plans.metrics.postmerge_counts",
    "upsert_partitions": "operators.merge.upsert_partitions",
    "insert_if_absent": "operators.merge.insert_if_absent",
    "next_id": "operators.surrogate_keys.next_id",
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "cold_pass_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for s in PIPELINE_STAGES:
        units[f"plans.pipeline.{s}.self_s"] = "s"
        units[f"plans.pipeline.{s}.jobs"] = "count"
    for span in list(PIPELINE_SPANS.values())[len(PIPELINE_STAGES):-1]:
        units[f"{span}.s"] = "s"
        units[f"{span}.jobs"] = "count"
    units["operators.surrogate_keys.next_id.s"] = "s"
    units.update({
        "pipeline.load_op_s": "s",
        "pipeline.restate_op_s": "s",
        "pipeline.landed_rows_per_s": "1/s",
        "warehouse.files_written": "count",
        "warehouse.bytes_written": "bytes",
        "warehouse.stored_bytes_per_input_byte": "ratio",
    })
    for m, u in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                 ("spill_bytes", "bytes"), ("executor_run_s", "s"),
                 ("executor_cpu_s", "s"), ("gc_s", "s"), ("between_jobs_s", "s")]:
        units[f"spark.{m}"] = u
    units.update({
        "queries.construct_s": "s", "queries.plan_s": "s", "queries.execute_s": "s",
        "queries.construct_jobs": "count", "queries.warm_construct_jobs": "count",
        "queries.execute_jobs": "count", "queries.execute_tasks": "count",
        "queries.bars.bars_silver.calls": "count", "queries.bars.bars_silver.build_s": "s",
    })
    for q in QUERY_MIX:
        units[f"queries.{q}.construct_s"] = "s"
        units[f"queries.{q}.execute_s"] = "s"
    units["trace.overhead_s"] = "s"
    units["trace.ops"] = "count"
    return units


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _vm_hwm_kb(status_path: str) -> int:
    with open(status_path, encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """One benchmark run: session lifecycle, checks and metric assembly
    shared by both workloads."""

    def __init__(self, args) -> None:
        self.args = args
        self.rng = random.Random(args.seed)
        self.dir = WORK / "run"
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.app_id = None

    # -- session -------------------------------------------------------------
    def start_session(self):
        from securities_pricing_data_pipeline_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.dir / "spark-local"),
            "spark.sql.warehouse.dir": str(self.dir / "spark-warehouse"),
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed, pre-touched heap: G1 sizes generations the same way
            # every run, and the heap's share of resident memory is constant
            # instead of depending on how far GC pressure happened to grow it
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.dir / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.app_id = self.spark.sparkContext.applicationId
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        kb = _vm_hwm_kb(f"/proc/{pid}/status") + _vm_hwm_kb("/proc/self/status")
        return kb / 1024.0

    def shutdown_jvm(self) -> None:
        """Stop the session, then the py4j gateway and its JVM, and wait."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- failures --------------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAIL {what}", file=sys.stderr, flush=True)

    # -- tracing -----------------------------------------------------------------
    def make_tracer(self):
        from perfbench.trace import Tracer

        self.tracer = Tracer(self.spark)
        return self.tracer

    def op(self, kind: str, phase: str):
        """Context manager timing one op; traced when tracing is on."""
        from perfbench.trace import Op

        if self.tracer is not None and self.tracer.enabled:
            return self.tracer.op(kind, phase)

        @contextlib.contextmanager
        def plain():
            o = Op(-1, kind, phase)
            t0 = time.perf_counter()
            try:
                yield o
            finally:
                o.wall_s = time.perf_counter() - t0

        return plain()

    def spark_layer_metrics(self, ops) -> dict[str, float]:
        from perfbench.trace import busy_seconds, fold_event_log

        self.stop_session()  # flushes the event log
        jobs = fold_event_log(str(self.dir / "eventlog"), self.app_id)
        per_op = defaultdict(list)
        for o in ops:
            stages = set().union(*[s for s, _ in o.jobs.values()]) if o.jobs else set()
            ms = [jobs[j] for j in o.jobs if j in jobs]
            per_op["spark.jobs"].append(len(o.jobs))
            per_op["spark.stages"].append(len(stages))
            per_op["spark.tasks"].append(sum(t for _, t in o.jobs.values()))
            per_op["spark.shuffle_read_bytes"].append(sum(m.shuffle_read_bytes for m in ms))
            per_op["spark.shuffle_write_bytes"].append(sum(m.shuffle_write_bytes for m in ms))
            per_op["spark.spill_bytes"].append(sum(m.spill_bytes for m in ms))
            per_op["spark.executor_run_s"].append(sum(m.executor_run_ms for m in ms) / 1e3)
            per_op["spark.executor_cpu_s"].append(sum(m.executor_cpu_ns for m in ms) / 1e9)
            per_op["spark.gc_s"].append(sum(m.gc_ms for m in ms) / 1e3)
            busy = busy_seconds([(m.submit_ms, m.complete_ms) for m in ms if m.complete_ms])
            per_op["spark.between_jobs_s"].append(o.wall_s - busy)
        return {k: median(v) for k, v in per_op.items()}


# ---------------------------------------------------------------------------
# eod_load_and_restate


def _norm(sym: str) -> str:
    return sym.strip(" ").upper()


def _rank(r) -> tuple:
    # desc_nulls_last(volume, close, open, high, low): bigger tuple wins
    return tuple((v is not None, v if v is not None else 0) for v in (r.volume, r.close, r.open, r.high, r.low))


class EodModel:
    """Pure-Python reduction of every delivery the warehouse has received:
    normalize, reject negative volumes, latest delivery wins per key."""

    def __init__(self) -> None:
        self.deliveries: dict[dt.date, list] = defaultdict(list)
        self.silver: dict[dt.date, dict] = {}
        self.dim: dict[str, int] = {}
        self.landed_bytes = 0
        self.landed_rows = 0

    def apply(self, dlv) -> tuple[int, int, int, int, int, int]:
        """Record one delivery; returns the RunMetrics counts it must yield."""
        day = dlv.day
        pre = set(self.silver.get(day, {}))
        self.deliveries[day].append(dlv)
        self.landed_bytes += dlv.n_bytes
        self.landed_rows += len(dlv.rows)
        rows = [r for d in self.deliveries[day] for r in d.rows]
        silver: dict[str, object] = {}
        for d in self.deliveries[day]:
            best: dict[str, object] = {}
            for r in d.rows:
                if r.volume < 0:
                    continue
                k = _norm(r.symbol)
                if k not in best or _rank(r) > _rank(best[k]):
                    best[k] = r
            silver.update(best)
        self.silver[day] = silver
        for s in sorted(set(silver) - set(self.dim)):
            self.dim[s] = len(self.dim) + 1
        keys = set(silver)
        upd = len(keys & pre)
        rejects = sum(1 for r in rows if r.volume < 0)
        return len(rows), rejects, len(keys) - upd, upd, len(silver), len(silver)

    def silver_rows(self, day: dt.date) -> set[tuple]:
        return {(day, k, r.open, r.high, r.low, r.close, r.volume) for k, r in self.silver[day].items()}

    def fact_rows(self, day: dt.date) -> set[tuple]:
        sk = int(day.strftime("%Y%m%d"))
        return {(self.dim[k], sk, day, r.open, r.high, r.low, r.close, r.volume)
                for k, r in self.silver[day].items()}


class EodWorkload:
    name = "eod_load_and_restate"

    def __init__(self, run: Run) -> None:
        from perfbench.gen import EodGenerator

        self.run = run
        self.gen = EodGenerator(str(run.dir / "landing"), run.args.seed)
        self.next_day = 0
        self.preload_rows = 0
        self.wh = None
        self.model = None
        self.messages: list[str] = []

    def _pipeline(self):
        return importlib.import_module(f"{ENGINE}.plans.pipeline")

    def deliver(self, dlv, kind: str, phase: str) -> float:
        """One timed ``run()`` call plus its untimed checks; returns its wall."""
        r = self.run
        expected = self.model.apply(dlv)
        snap = self._snapshot() if r.tracer is not None and r.tracer.enabled else None
        r.attempted += 1
        self.messages.clear()
        with r.op(kind, phase) as o:
            try:
                m = self._pipeline().run(r.spark, self.wh, dlv.path, dlv.day, notifier=self.messages.append)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
                m = exc
        if snap is not None:
            self.writes.append(self._written_since(snap))
        if isinstance(m, Exception):
            r.fail(f"{kind} {dlv.day}: {type(m).__name__}: {m}"[:300])
            return o.wall_s
        got = (m.raw_cnt, m.reject_cnt, m.est_inserts, m.est_updates, m.core_cnt, m.fact_cnt)
        ok = got == expected and m.core_cnt == m.fact_cnt and any("SUCCESS" in s for s in self.messages)
        if ok and kind == "restate":
            ok = self._check_day(dlv.day)
        if not ok:
            r.fail(f"{kind} {dlv.day}: metrics {got} expected {expected}")
        return o.wall_s

    def _read(self, path: str, day: dt.date | None = None):
        from pyspark.sql import functions as F

        df = self.run.spark.read.parquet(path)
        return df if day is None else df.filter(F.col("trade_date") == F.lit(day))

    def _check_day(self, day: dt.date) -> bool:
        cols = ["trade_date", "symbol", "open", "high", "low", "close", "volume"]
        silver = {tuple(x) for x in self._read(self.wh.silver, day).select(*cols).collect()}
        fact = {tuple(x) for x in self._read(self.wh.fact_daily_price, day)
                .select("security_id", "date_sk", *[c for c in cols if c != "symbol"]).collect()}
        dim = {x.symbol: x.security_id for x in self._read(self.wh.dim_security).collect()}
        return silver == self.model.silver_rows(day) and fact == self.model.fact_rows(day) and dim == self.model.dim

    def _snapshot(self) -> dict[str, tuple[int, int]]:
        out = {}
        for base, _, files in os.walk(self.wh.root):
            for f in files:
                st = os.stat(os.path.join(base, f))
                out[os.path.join(base, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def _written_since(self, before) -> tuple[int, int]:
        after = self._snapshot()
        new = [k for k, v in after.items() if before.get(k) != v]
        return len(new), sum(after[k][0] for k in new)

    def setup(self) -> None:
        """Session start plus a one-day history preload through ``run()``
        into a fresh warehouse."""
        from securities_pricing_data_pipeline_spark.tables import Warehouse

        r = self.run
        first = self.gen.day_file(0)
        t0 = time.perf_counter()
        spark = r.start_session()
        self.wh = Warehouse(str(r.dir / "wh"))
        self.model = EodModel()
        expected = self.model.apply(first)
        m = self._pipeline().run(spark, self.wh, first.path, first.day, notifier=lambda s: None)
        r.setup_s = time.perf_counter() - t0
        self.preload_rows = self.model.landed_rows
        got = (m.raw_cnt, m.reject_cnt, m.est_inserts, m.est_updates, m.core_cnt, m.fact_cnt)
        if got != expected:
            raise RuntimeError(f"history preload metrics {got} != {expected}")
        self.next_day = 1

    def step(self, kind: str, phase: str) -> tuple[str, float]:
        """One op: *load* the next trading day, or *restate* an earlier one."""
        if kind == "load":
            dlv = self.gen.day_file(self.next_day)
            self.next_day += 1
        else:
            j = self.run.rng.randrange(self.next_day)
            if self.run.rng.random() < 0.5:
                dlv = self.gen.correction(j)
            else:
                dlv = self.model.deliveries[self.gen.days[j]][-1]  # exact idempotent re-run
        wall = self.deliver(dlv, kind, phase)
        log(f"{phase} {kind} {dlv.day}: {wall:.3f} s")
        return kind, wall

    def final_check(self) -> None:
        from pyspark.sql import functions as F

        cols = ["trade_date", "symbol", "open", "high", "low", "close", "volume"]
        silver = {tuple(x) for x in self._read(self.wh.silver).select(*cols).collect()}
        fact = {tuple(x) for x in self._read(self.wh.fact_daily_price)
                .select("security_id", "date_sk", *[c for c in cols if c != "symbol"]).collect()}
        want_s = set().union(*[self.model.silver_rows(d) for d in self.model.silver])
        want_f = set().union(*[self.model.fact_rows(d) for d in self.model.silver])
        dim = {x.symbol: x.security_id for x in self._read(self.wh.dim_security).collect()}
        dates = {x[0] for x in self._read(self.wh.dim_date).select(F.col("cal_date")).collect()}
        self.run.attempted += 1
        if silver != want_s or fact != want_f or dim != self.model.dim or dates != set(self.model.silver):
            self.run.fail("end of run: warehouse differs from the pure-Python reduction of the inputs")

    def stored_ratio(self) -> float:
        total = sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(self.wh.root) for f in fs)
        return total / self.model.landed_bytes

    def measure(self) -> dict:
        r = self.run
        self.writes: list[tuple[int, int]] = []
        if r.args.trace:
            tr = r.make_tracer()
            pipeline = self._pipeline()
            for attr, span in PIPELINE_SPANS.items():
                tr.wrap(pipeline, attr, span)
        if r.args.plant_wrong_answer:
            self._plant()
        kinds = itertools.cycle(("load", "restate"))
        t0 = time.perf_counter()
        cold = [self.step(next(kinds), "cold") for _ in range(2)]
        ops = list(cold)
        while len(ops) < MIN_OPS + r.args.trace or time.perf_counter() - t0 < r.args.seconds:
            ops.append(self.step(next(kinds), "warm"))
        walls = [w for _, w in ops]
        res = {
            "op_p50_s": median(walls),
            "cold_pass_s": sum(w for _, w in cold),
            "ops_per_s": len(walls) / sum(walls),
        }
        if r.args.trace:
            traced = r.tracer.ops
            res.update(self._layer_metrics(ops))
            r.tracer.unwrap_all()
            r.tracer.enabled = False
            # like for like: one untraced load against the traced warm loads
            _, plain = self.step("load", "warm")
            warm = [o.wall_s for o in traced if o.phase == "warm" and o.kind == "load"]
            res["trace.overhead_s"] = median(warm) - plain
            res["trace.ops"] = len(traced)
        self.final_check()
        res["peak_rss_mb"] = r.peak_rss_mb()
        if r.args.trace:
            res.update(r.spark_layer_metrics(traced))
        return res

    def _layer_metrics(self, ops) -> dict[str, float]:
        tr = self.run.tracer
        per_op: dict[str, list[float]] = defaultdict(list)
        for o in tr.ops:
            acc: dict[str, float] = defaultdict(float)
            for k, sp in enumerate(tr.spans):
                if sp.op != o.idx:
                    continue
                if sp.name.startswith("plans.pipeline."):
                    acc[f"{sp.name}.self_s"] += tr.self_time(k)
                    acc[f"{sp.name}.jobs"] += len(tr.self_jobs(k))
                elif sp.name != "op":
                    acc[f"{sp.name}.s"] += sp.dur
                    acc[f"{sp.name}.jobs"] += len(sp.jobs)
            for name, v in acc.items():
                per_op[name].append(v)
        out = {k: median(v) for k, v in per_op.items()}
        out.pop("operators.surrogate_keys.next_id.jobs", None)
        out["pipeline.load_op_s"] = median(w for k, w in ops if k == "load")
        out["pipeline.restate_op_s"] = median(w for k, w in ops if k == "restate")
        out["pipeline.landed_rows_per_s"] = (self.model.landed_rows - self.preload_rows) / sum(w for _, w in ops)
        out["warehouse.files_written"] = median(f for f, _ in self.writes)
        out["warehouse.bytes_written"] = median(b for _, b in self.writes)
        out["warehouse.stored_bytes_per_input_byte"] = self.stored_ratio()
        return out

    def _plant(self) -> None:
        """Benchmark self-test: the fact upsert silently drops security 1."""
        from pyspark.sql import functions as F

        pipeline = self._pipeline()
        orig_upsert = pipeline.upsert_partitions

        def lossy(spark, source, path, keys, *a, **k):
            if path.endswith("fact_daily_price"):
                source = source.filter(F.col("security_id") != F.lit(1))
            return orig_upsert(spark, source, path, keys, *a, **k)

        pipeline.upsert_partitions = lossy


# ---------------------------------------------------------------------------
# dashboard_and_corpus_queries


def _fold(df):
    """Every-column xxhash64 fold (the bench.py op shape), overflow-free."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.agg(F.count(F.lit(1)), F.max(h), F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF)))).collect()[0]
    return tuple(row)


class QueryWorkload:
    name = "dashboard_and_corpus_queries"

    def __init__(self, run: Run) -> None:
        from perfbench.gen import write_tables

        self.run = run
        self.sf_dir = str(run.dir / "tables")
        write_tables(self.sf_dir, run.args.seed, QUERY_SF)
        entry = importlib.import_module("__spark_entry__")
        self.queries = entry.queries()
        spec = importlib.util.spec_from_file_location("perfbench_check_oracle", ROOT / "tools" / "check_oracle.py")
        self.oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.oracle)
        self.oracle_sql = entry.oracle_sql()
        self.fingerprints: dict[str, tuple] = {}
        #: the first successful result of each query, checked against its
        #: DuckDB oracle once the timed passes are over
        self.first_df: dict[str, object] = {}

    def _expected(self, sql: str):
        try:
            return self.oracle.normalize(self.oracle.duck_run(self.sf_dir, sql))
        except Exception as exc:  # noqa: BLE001 - reported as that query's failure
            return exc

    def setup(self) -> None:
        """Session start plus a read of every input table (footers, page
        cache, JIT)."""
        r = self.run
        t0 = time.perf_counter()
        spark = r.start_session()
        for t in INPUT_TABLES:
            spark.read.parquet(f"{self.sf_dir}/{t}.parquet").count()
        r.setup_s = time.perf_counter() - t0

    def one(self, name: str, phase: str) -> tuple[float, object]:
        r = self.run
        fn = self.queries[name]
        tr = r.tracer if r.tracer is not None and r.tracer.enabled else None
        r.attempted += 1
        df = None
        with r.op(name, phase) as o:
            try:
                if tr is None:
                    df = fn(r.spark, self.sf_dir)
                    fp = _fold(df)
                else:
                    with tr.span("queries.construct"):
                        df = fn(r.spark, self.sf_dir)
                    with tr.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("queries.execute"):
                        fp = _fold(df)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
                fp = exc
        if isinstance(fp, Exception):
            r.fail(f"{name}: {type(fp).__name__}: {fp}"[:300])
        elif name not in self.fingerprints:
            self.fingerprints[name] = fp
            self.first_df[name] = df
        elif fp != self.fingerprints[name]:
            r.fail(f"{name}: fingerprint {fp} != first pass {self.fingerprints[name]}")
        return o.wall_s, fp

    def check_oracles(self) -> None:
        """Untimed: each query's first result against its DuckDB oracle.
        DuckDB releases the GIL, so its answers are computed on two
        threads while Spark collects the results."""
        t0 = time.perf_counter()
        got: dict[str, object] = {}
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = {n: pool.submit(self._expected, self.oracle_sql[n]) for n in self.first_df}
            for n, df in self.first_df.items():
                try:
                    got[n] = self.oracle.normalize(df.toPandas())
                except Exception as exc:  # noqa: BLE001 - reported as that query's failure
                    got[n] = exc
        log(f"oracle checks: {time.perf_counter() - t0:.3f} s")
        for n, f in futures.items():
            want = f.result()
            if isinstance(got[n], Exception) or isinstance(want, Exception) or got[n] != want:
                self.run.fail(f"{n}: differs from its DuckDB oracle")

    def one_pass(self, phase: str) -> list[tuple[str, float]]:
        order = list(QUERY_MIX)
        self.run.rng.shuffle(order)
        ops = [(n, self.one(n, phase)[0]) for n in order]
        log(f"{phase} pass: {sum(w for _, w in ops):.3f} s, ops {sorted(((round(w, 3), n) for n, w in ops), reverse=True)}")
        return ops

    def measure(self) -> dict:
        r = self.run
        if r.args.trace:
            tr = r.make_tracer()
            bars = importlib.import_module(f"{ENGINE}.queries.bars")
            orig = bars.bars_silver
            for mod in [m for k, m in list(sys.modules.items()) if k.startswith(f"{ENGINE}.queries")]:
                if getattr(mod, "bars_silver", None) is orig:
                    tr.wrap(mod, "bars_silver", "queries.bars.bars_silver")
        if r.args.plant_wrong_answer:
            fn = self.queries[QUERY_MIX[0]]
            self.queries[QUERY_MIX[0]] = lambda spark, sf: fn(spark, sf).limit(0)
        t0 = time.perf_counter()
        cold = self.one_pass("cold")
        warm: list[tuple[str, float]] = []
        while len(warm) < MIN_WARM_PASSES * len(QUERY_MIX) or time.perf_counter() - t0 < r.args.seconds:
            warm += self.one_pass("warm")
        walls = [w for _, w in warm]
        res = {
            "op_p50_s": median(walls),
            "cold_pass_s": sum(w for _, w in cold),
            "ops_per_s": len(walls) / sum(walls),
        }
        if r.args.trace:
            traced = r.tracer.ops
            res.update(self._layer_metrics())
            r.tracer.unwrap_all()
            r.tracer.enabled = False
            plain = [w for _, w in self.one_pass("warm")]
            res["trace.overhead_s"] = res["op_p50_s"] - median(plain)
            res["trace.ops"] = len(traced)
        self.check_oracles()
        res["peak_rss_mb"] = r.peak_rss_mb()
        if r.args.trace:
            res.update(r.spark_layer_metrics([o for o in traced if o.phase == "warm"]))
        return res

    def _layer_metrics(self) -> dict[str, float]:
        tr = self.run.tracer
        per_op: dict[str, list[float]] = defaultdict(list)
        construct_jobs = {"cold": 0, "warm": 0}
        silver_calls, silver_build_s = 0, 0.0
        for k, sp in enumerate(tr.spans):
            o = tr.ops[sp.op]
            if sp.name == "queries.bars.bars_silver":
                silver_calls += 1
                if sp.jobs:
                    silver_build_s += sp.dur
                continue
            if not sp.name.startswith("queries."):
                continue
            phase = sp.name.split(".")[1]
            jobs, _, tasks = tr.span_counts(k)
            if phase == "construct":
                construct_jobs[o.phase] += jobs
            if o.phase != "warm":
                continue
            per_op[f"queries.{phase}_s"].append(sp.dur)
            per_op[f"queries.{o.kind}.{phase}_s"].append(sp.dur)
            if phase == "execute":
                per_op["queries.execute_jobs"].append(jobs)
                per_op["queries.execute_tasks"].append(tasks)
        out = {k: median(v) for k, v in per_op.items() if not k.endswith(".plan_s") or k == "queries.plan_s"}
        n_warm_passes = max(1, sum(1 for o in tr.ops if o.phase == "warm") // len(QUERY_MIX))
        out["queries.construct_jobs"] = construct_jobs["cold"]
        out["queries.warm_construct_jobs"] = construct_jobs["warm"] / n_warm_passes
        out["queries.bars.bars_silver.calls"] = silver_calls
        out["queries.bars.bars_silver.build_s"] = silver_build_s
        return out


WORKLOADS = {w.name: w for w in (EodWorkload, QueryWorkload)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-wrong-answer", action="store_true",
                   help="self-test: corrupt one engine result; the run must report failures")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: engine sources ({ENGINE}/, __spark_entry__.py) not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # every JVM the run starts (launcher and driver) keeps its temp files in
    # the run dir and writes no hsperfdata to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")

    run = Run(args)
    try:
        workload = WORKLOADS[args.workload](run)
        log(f"inputs ready at {time.perf_counter() - T0:.1f} s")
        workload.setup()
        log(f"set-up done at {time.perf_counter() - T0:.1f} s: {run.setup_s:.3f} s")
        res = workload.measure()
        log(f"measured at {time.perf_counter() - T0:.1f} s")
        res["setup_s"] = run.setup_s
        if args.trace:
            run.tracer.dump(str(WORK / "traces" / f"{args.workload}-seed{args.seed}.json"),
                            {k: v for k, v in res.items() if k not in END_TO_END})
    finally:
        run.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"stopped at {time.perf_counter() - T0:.1f} s")

    units = per_layer_units() if args.trace else END_TO_END
    metrics = {k: {"value": float(res.get(k, 0.0)), "unit": u} for k, u in units.items()}
    fail_ratio = run.failed / run.attempted
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{run.attempted} ops, {run.failed} failed (fail_ratio {fail_ratio:.4f})")
    for k, m in metrics.items():
        print(f"  {k:<48} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
