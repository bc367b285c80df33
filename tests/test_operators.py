"""Unit tests for the operator library on tiny in-memory frames."""

from __future__ import annotations

import datetime as dt
import inspect
import os
import re
import sys
import uuid
from decimal import Decimal

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from securities_pricing_data_pipeline_spark.functions.normalize import normalize_symbol  # noqa: E402
from securities_pricing_data_pipeline_spark.operators.dedup import dedup_latest  # noqa: E402
from securities_pricing_data_pipeline_spark.operators.merge import (  # noqa: E402
    MergeCounts,
    absent_rows,
    insert_if_absent,
    upsert_partitions,
)
from securities_pricing_data_pipeline_spark.operators.quality import (  # noqa: E402
    NEGATIVE_VOLUME,
    NULL_SYMBOL,
    EmptyLoadError,
    eod_reject_reason,
    existence_gate,
    split_by_reason,
)
from securities_pricing_data_pipeline_spark.operators.surrogate_keys import (  # noqa: E402
    assign_ids,
    next_id,
)
from securities_pricing_data_pipeline_spark.sources.eod_api import (  # noqa: E402
    fetch_day_with_lookback,
    rows_to_frame,
)


def test_dedup_latest(spark):
    df = spark.createDataFrame(
        [("A", 1, 10), ("A", 2, 20), ("B", 1, 30)], "k string, ts int, v int"
    )
    out = dedup_latest(df, ["k"], [F.desc("ts")]).collect()
    got = {(r.k, r.ts, r.v) for r in out}
    assert got == {("A", 2, 20), ("B", 1, 30)}


def test_upsert_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    d1, d2 = dt.date(2026, 1, 1), dt.date(2026, 1, 2)
    base = spark.createDataFrame(
        [("A", d1, 1.0), ("B", d1, 2.0), ("A", d2, 3.0)],
        "symbol string, trade_date date, v double",
    )
    upsert_partitions(spark, base, path, keys=["symbol", "trade_date"])
    # update A@d1, insert C@d1; d2 partition untouched
    src = spark.createDataFrame(
        [("A", d1, 10.0), ("C", d1, 5.0)], "symbol string, trade_date date, v double"
    )
    upsert_partitions(spark, src, path, keys=["symbol", "trade_date"])
    got = {(r.symbol, r.trade_date, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {("A", d1, 10.0), ("B", d1, 2.0), ("C", d1, 5.0), ("A", d2, 3.0)}


def test_upsert_partitions_counts_and_known_partitions(spark, tmp_path):
    """The returned MergeCounts are read off the write: ``written`` is the
    touched partitions' post-merge rows, ``inserted`` and ``updated`` the
    source keys that were absent and present. Passing the partition values
    the caller already knows gives the same table and counts as collecting
    them."""
    d1, d2 = dt.date(2026, 1, 1), dt.date(2026, 1, 2)
    schema = "symbol string, trade_date date, v double"
    base = spark.createDataFrame([("A", d1, 1.0), ("B", d1, 2.0), ("A", d2, 3.0)], schema)
    src = spark.createDataFrame([("A", d1, 10.0), ("C", d1, 5.0)], schema)
    keys = ["symbol", "trade_date"]
    tables = []
    for name, vals in (("collected", None), ("known", [d1])):
        path = str(tmp_path / name)
        first = upsert_partitions(spark, base, path, keys=keys)
        assert (first.inserted, first.updated, first.written) == (3, 0, 3)
        second = upsert_partitions(spark, src, path, keys=keys, partition_values=vals)
        assert (second.inserted, second.updated, second.written) == (1, 1, 3)
        tables.append({tuple(r) for r in spark.read.parquet(path).select("symbol", "trade_date", "v").collect()})
    assert tables[0] == tables[1] == {("A", d1, 10.0), ("B", d1, 2.0), ("C", d1, 5.0), ("A", d2, 3.0)}


def test_insert_if_absent(spark, tmp_path):
    path = str(tmp_path / "dim")
    a = spark.createDataFrame([(1, "X")], "id long, name string")
    assert insert_if_absent(spark, a, path, keys=["id"]) == 1
    b = spark.createDataFrame([(1, "CHANGED"), (2, "Y")], "id long, name string")
    assert insert_if_absent(spark, b, path, keys=["id"]) == 1  # only id=2
    got = {(r.id, r.name) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "X"), (2, "Y")}  # first write wins
    files = sorted(os.listdir(path))
    assert insert_if_absent(spark, b, path, keys=["id"]) == 0
    assert sorted(os.listdir(path)) == files  # nothing new: no empty part file


def _jobs_of(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_insert_if_absent_is_one_action(spark, tmp_path):
    """One call launches exactly the jobs of one write of its new rows —
    no cache build, emptiness probe or count — whether it inserts rows
    or none."""
    from securities_pricing_data_pipeline_spark.operators import merge as m

    path = str(tmp_path / "dim")
    insert_if_absent(spark, spark.createDataFrame([(1, "X")], "id long, name string"), path, ["id"])
    b = spark.createDataFrame([(1, "CHANGED"), (2, "Y")], "id long, name string")
    for expected in (1, 0):
        scratch = str(tmp_path / f"one_write_{expected}")
        one_write = _jobs_of(spark, lambda: absent_rows(spark, b, path, ["id"]).write.parquet(scratch))
        got = []
        jobs = _jobs_of(spark, lambda: got.append(insert_if_absent(spark, b, path, ["id"])))
        assert got == [expected]
        assert jobs == one_write
    code = "".join(
        inspect.getsource(f)
        for f in (m.insert_if_absent, m.absent_rows, m.append_staged)
    )
    assert not re.search(r"\.cache\(|isEmpty|\.count\(\)", code)


def test_insert_if_absent_empty_leaves_files_alone(spark, tmp_path):
    """An empty insert into a missing table creates nothing; one into an
    existing table leaves its files (names, sizes, mtimes) as they were,
    with no staging directory left behind."""
    missing = tmp_path / "missing"
    empty = spark.createDataFrame([], "id long, name string")
    assert insert_if_absent(spark, empty, str(missing), keys=["id"]) == 0
    assert not missing.exists()

    path = str(tmp_path / "dim")
    rows = spark.createDataFrame([(1, "X")], "id long, name string")
    assert insert_if_absent(spark, rows, path, keys=["id"]) == 1

    def snapshot():
        return {
            os.path.relpath(os.path.join(base, n), path): (
                os.stat(os.path.join(base, n)).st_size,
                os.stat(os.path.join(base, n)).st_mtime_ns,
            )
            for base, _, names in os.walk(path)
            for n in names
        }

    before = snapshot()
    assert insert_if_absent(spark, rows, path, keys=["id"]) == 0
    assert insert_if_absent(spark, empty, path, keys=["id"]) == 0
    assert snapshot() == before
    assert not [d for d in os.listdir(path) if d.startswith("_staging")]


def test_leftover_staging_dir_is_invisible_to_reads(spark, tmp_path):
    """A staged write that died before clean-up leaves a ``_staging-*``
    directory inside the table; ``read_table`` must not see its rows."""
    from securities_pricing_data_pipeline_spark.schemas import DIM_SECURITY_SCHEMA
    from securities_pricing_data_pipeline_spark.tables import Warehouse, read_table

    wh = Warehouse(str(tmp_path / "wh"))
    schema = "security_id long, symbol string"
    insert_if_absent(spark, spark.createDataFrame([(1, "A")], schema), wh.dim_security, ["symbol"])
    stray = os.path.join(wh.dim_security, f"_staging-{uuid.uuid4().hex}")
    spark.createDataFrame([(2, "B")], schema).write.parquet(stray)
    got = {tuple(r) for r in read_table(spark, wh.dim_security, DIM_SECURITY_SCHEMA).collect()}
    assert got == {(1, "A")}


def test_insert_if_absent_is_deterministic_and_keeps_column_order(spark, tmp_path):
    """Two same-key rows, fed in either order at 1 or 4 partitions, always
    insert the same winner; every part file keeps the declared column
    order even when the key is not the first column; NULL keys match
    null-safely."""
    schema = "id long, name string, v double"
    rows = [(1, "B", 2.0), (1, "A", 9.0)]
    winners = set()
    for i, ordered in enumerate((rows, rows[::-1])):
        for parts in (1, 4):
            path = str(tmp_path / f"order{i}_parts{parts}")
            src = spark.createDataFrame(ordered, schema).repartition(parts)
            assert insert_if_absent(spark, src, path, keys=["id"]) == 1
            winners.add(tuple(spark.read.parquet(path).first()))
    assert winners == {(1, "A", 9.0)}

    path = str(tmp_path / "dim")
    dim = "security_id long, symbol string"
    insert_if_absent(spark, spark.createDataFrame([(1, "A")], dim), path, keys=["symbol"])
    insert_if_absent(spark, spark.createDataFrame([(2, "B")], dim), path, keys=["symbol"])
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 2
    for f in parts:
        assert spark.read.parquet(os.path.join(path, f)).columns == ["security_id", "symbol"]

    keyed = str(tmp_path / "null_keys")
    src = spark.createDataFrame([(None, "x"), (None, "y"), ("A", "z")], "k string, v string")
    assert insert_if_absent(spark, src, keyed, keys=["k"]) == 2
    assert insert_if_absent(spark, src, keyed, keys=["k"]) == 0
    assert {tuple(r) for r in spark.read.parquet(keyed).collect()} == {(None, "x"), ("A", "z")}


def test_split_rejects_null_safe(spark):
    """The silver reject split: a NULL volume is valid (the reference's
    ``VOLUME < 0`` is not true for it), a negative volume is a
    NEGATIVE_VOLUME reject, and a NULL or blank (after normalization)
    symbol is a NULL_SYMBOL reject."""
    df = spark.createDataFrame(
        [(1, "A", 5), (2, "B", -1), (3, "C", None), (4, None, 5), (5, "  ", 5)],
        "id int, symbol string, volume int",
    ).withColumn("symbol", normalize_symbol(F.col("symbol")))
    valid, rejects = split_by_reason(df, eod_reject_reason())
    assert {r.id for r in valid.collect()} == {1, 3}  # NULL volume is valid
    assert {(r.id, r.reject_reason) for r in rejects.collect()} == {
        (2, NEGATIVE_VOLUME), (4, NULL_SYMBOL), (5, NULL_SYMBOL),
    }


def test_existence_gate(spark):
    empty = spark.createDataFrame([], "id int")
    try:
        existence_gate(empty, "x")
        assert False, "should raise"
    except EmptyLoadError:
        pass
    existence_gate(spark.createDataFrame([(1,)], "id int"))  # no raise


def test_surrogate_ids(spark, tmp_path):
    path = str(tmp_path / "dim_sec")
    assert next_id(spark, path) == 1
    new = spark.createDataFrame([("B",), ("A",)], "symbol string")
    out = assign_ids(new, 1).collect()
    assert {(r.security_id, r.symbol) for r in out} == {(1, "A"), (2, "B")}
    insert_if_absent(spark, assign_ids(new, 1), path, keys=["symbol"])
    assert next_id(spark, path) == 3


def _fake_fetcher(day: dt.date):
    if day.weekday() >= 5:  # closed weekends
        return []
    return [
        {"T": "AAA", "o": 1.0, "h": 2.0, "l": 0.5, "c": 1.5, "v": 100},
        {"T": "BBB", "c": 9.9, "v": 7},  # missing fields → NULL
    ]


def test_salted_aggregate_matches_plain(spark):
    from securities_pricing_data_pipeline_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [("HOT", i, float(i)) for i in range(1000)] + [("COLD", 1, 5.0), ("COLD", 2, 7.0)],
        "symbol string, volume long, px double",
    )
    out = {
        r.symbol: (r.total_volume, r.n, r.max_px)
        for r in salted_aggregate(
            df,
            keys=["symbol"],
            aggs={
                "total_volume": ("volume", "sum"),
                "n": ("volume", "count"),
                "max_px": ("px", "max"),
            },
            n_salts=8,
        ).collect()
    }
    assert out["HOT"] == (sum(range(1000)), 1000, 999.0)
    assert out["COLD"] == (3, 2, 7.0)


def test_salted_aggregate_rejects_non_algebraic(spark):
    import pytest

    from securities_pricing_data_pipeline_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame([("A", 1)], "k string, v long")
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(df, ["k"], {"a": ("v", "avg")})


def test_replicated_broadcast_join_matches_plain(spark):
    from securities_pricing_data_pipeline_spark.operators.skew import replicated_broadcast_join

    big = spark.createDataFrame(
        [("HOT", i) for i in range(500)] + [("X", 0), ("ORPHAN", 9)],
        "symbol string, seq long",
    )
    dim = spark.createDataFrame([("HOT", "Hot Corp"), ("X", "X Inc")], "symbol string, name string")
    out = replicated_broadcast_join(big, dim, on=["symbol"], n_salts=4)
    plain = big.join(dim, "symbol")
    assert out.count() == plain.count() == 501
    assert set(out.columns) == set(plain.columns)
    # each big row appears exactly once (no replication leak)
    assert out.select("symbol", "seq").distinct().count() == 501


def test_lookback_and_projection(spark):
    # Sunday 2026-01-04 → walks back to Friday 2026-01-02
    day, rows = fetch_day_with_lookback(_fake_fetcher, dt.date(2026, 1, 4), lookback_days=10)
    assert day == dt.date(2026, 1, 2)
    df = rows_to_frame(spark, day, rows)
    got = {(r.symbol, r.open, r.volume is not None) for r in df.collect()}
    assert ("BBB", None, True) in got  # missing key → NULL
    assert ("AAA", Decimal("1.0"), True) in got  # float input
    assert df.schema["trade_date"].dataType.typeName() == "date"


def test_asof_forward_picks_next_at_or_after(spark):
    from securities_pricing_data_pipeline_spark.operators.asof import asof_join_forward
    import datetime as dt

    d = dt.date
    left = spark.createDataFrame(
        [("A", d(2020, 1, 5)), ("A", d(2020, 1, 10)), ("B", d(2020, 1, 1))],
        ["sym", "t"],
    )
    right = spark.createDataFrame(
        [("A", d(2020, 1, 5), 1.0), ("A", d(2020, 1, 12), 2.0), ("B", d(2019, 12, 31), 9.0)],
        ["sym", "rt", "px"],
    )
    out = {(r.sym, r.t): r for r in asof_join_forward(
        left, right, key=["sym"], left_time="t", right_time="rt"
    ).collect()}
    assert out[("A", d(2020, 1, 5))].px == 1.0  # inclusive: same-day match
    assert out[("A", d(2020, 1, 10))].px == 2.0  # next future bar
    assert out[("B", d(2020, 1, 1))].px is None  # nothing at-or-after


def test_asof_tolerance_nulls_stale_matches(spark):
    from securities_pricing_data_pipeline_spark.operators.asof import (
        asof_join_backward_tolerance,
    )
    import datetime as dt

    d = dt.date
    left = spark.createDataFrame(
        [("A", d(2020, 1, 10)), ("A", d(2020, 2, 1))], ["sym", "t"]
    )
    right = spark.createDataFrame([("A", d(2020, 1, 8), 5.0)], ["sym", "rt", "px"])
    out = {r.t: r for r in asof_join_backward_tolerance(
        left, right, key=["sym"], left_time="t", right_time="rt", tolerance_days=7
    ).collect()}
    assert out[d(2020, 1, 10)].px == 5.0  # 2 days old: fresh
    assert out[d(2020, 2, 1)].px is None  # 24 days old: nulled, row kept
    assert out[d(2020, 2, 1)].asof_time is None
    assert len(out) == 2


def test_pagerank_star_graph_and_determinism(spark):
    from pyspark.sql import functions as F
    from securities_pricing_data_pipeline_spark.operators.graph import pagerank

    # star: hub 0 <-> spokes 1..6 (symmetrized edge list)
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 7)] + [(i, 0) for i in range(1, 7)], ["src", "dst"]
    )
    r = {row.node: row.rank for row in pagerank(edges, iters=5).collect()}
    assert len(r) == 7
    # hub collects all spoke mass, spokes are symmetric
    assert all(abs(r[i] - r[1]) < 1e-12 for i in range(2, 7))
    assert r[0] > 2 * r[1]
    # probability mass is conserved (no dangling nodes)
    assert abs(sum(r.values()) - 1.0) < 1e-9
    # layout-independent
    r2 = {row.node: row.rank for row in pagerank(edges.repartition(5), iters=5).collect()}
    assert r == r2


def test_observe_write_metrics_rides_the_action(spark, tmp_path):
    import datetime as dt

    from securities_pricing_data_pipeline_spark.operators.quality import (
        observe_write_metrics,
    )

    df = spark.createDataFrame(
        [
            (dt.date(2026, 1, 5), "AAA", 10.0, 100),
            (dt.date(2026, 1, 5), "BBB", -1.0, None),
            (dt.date(2026, 1, 5), "CCC", 5.0, 7),
        ],
        "trade_date date, symbol string, close double, volume long",
    )
    observed, obs = observe_write_metrics(df, "t_write")
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got == {"n_rows": 3, "n_null_volume": 1, "n_neg_close": 1}


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    from securities_pricing_data_pipeline_spark.operators.maintenance import (
        compact_parquet,
        dir_bytes,
    )

    path = str(tmp_path / "smallfiles")
    df = spark.range(0, 20000).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
    df.repartition(40).write.parquet(path)  # 40 tiny files
    import os

    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before >= 30
    before = spark.read.parquet(path)
    before_sum = before.groupBy().sum("id").collect()[0][0]

    n_after = compact_parquet(spark, path, target_bytes=dir_bytes(path))
    assert n_after < n_before and n_after <= 2

    after = spark.read.parquet(path)
    assert after.count() == 20000
    assert after.groupBy().sum("id").collect()[0][0] == before_sum

    # sorted compaction clusters files on the key
    n_sorted = compact_parquet(spark, path, target_bytes=dir_bytes(path) // 3, sort_cols=["id"])
    assert spark.read.parquet(path).count() == 20000
    assert n_sorted >= 2


def test_zorder_interleave_matches_reference(spark):
    from securities_pricing_data_pipeline_spark.operators.layout import z_value

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    rows = [(x, y) for x in (0, 1, 5, 255, 65535, 70000) for y in (0, 3, 64, 65535)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", z_value(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in rows:
        # values beyond 16 bits are masked, matching the documented contract
        assert got[(x, y)] == morton(x & 0xFFFF, y & 0xFFFF)


def test_zorder_file_plan_boxes_cover_and_partition(spark):
    from securities_pricing_data_pipeline_spark.operators.layout import zorder_file_plan

    df = spark.createDataFrame(
        [(d, k) for d in range(0, 512, 7) for k in range(0, 512, 13)], "d long, k long"
    )
    plan = zorder_file_plan(df, F.col("d"), F.col("k"), bits=16, file_shift=12).collect()
    assert sum(r.n_rows for r in plan) == df.count()
    for r in plan:
        assert 0 <= r.x_min <= r.x_max < 512 and 0 <= r.y_min <= r.y_max < 512
    # the z-curve gives each file a bounded tile: a 2^12-cell tile spans
    # at most 2^6 distinct values per dimension
    for r in plan:
        assert r.x_max - r.x_min < 64 and r.y_max - r.y_min < 64


def test_hilbert_value_matches_reference(spark):
    from securities_pricing_data_pipeline_spark.operators.layout import (
        hilbert_sql_expr,
        hilbert_value,
    )

    def xy2d(order, x, y):
        d, s = 0, 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    rows = [(x, y) for x in range(0, 256, 5) for y in range(0, 256, 7)]
    rows += [(x, y) for x in (0, 1, 254, 255) for y in (0, 1, 254, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.h
        for r in df.select(
            "x", "y", hilbert_value(F.col("x"), F.col("y"), 8).alias("h")
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == xy2d(8, x, y)
    # adjacency needs CONSECUTIVE curve positions, so check it on a full
    # order-4 grid (16×16): the curve is a bijection onto [0, 256) and
    # every consecutive pair of positions differs by 1 in exactly one dim
    full = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    inv = {
        r.h: (r.x, r.y)
        for r in full.select(
            "x", "y", hilbert_value(F.col("x"), F.col("y"), 4).alias("h")
        ).collect()
    }
    assert sorted(inv) == list(range(256))  # bijection
    for d in range(255):
        (x0, y0), (x1, y1) = inv[d], inv[d + 1]
        assert abs(x1 - x0) + abs(y1 - y0) == 1
    import duckdb

    con = duckdb.connect()
    expr = hilbert_sql_expr("x", "y", 8)
    for x, y in rows[:50]:
        assert con.execute(f"SELECT {expr} FROM (SELECT {x} AS x, {y} AS y)").fetchone()[
            0
        ] == xy2d(8, x, y)


def test_skip_eval_plan_layout_tradeoff(spark):
    from securities_pricing_data_pipeline_spark.operators.layout import skip_eval_plan

    # dense 512x512 grid: every (d, k) combination present, so file boxes
    # are exactly their tiles and the pruning math is predictable
    df = spark.createDataFrame(
        [(d, k) for d in range(0, 512, 4) for k in range(0, 512, 4)], "d long, k long"
    )
    out = skip_eval_plan(
        df,
        F.col("d"),
        F.col("k"),
        date_probes=[64, 192, 320, 448],
        key_probes=[32, 160, 288, 416],
        bits=16,
        file_shift=14,
        x_tile=64,
        n_y_tiles=8,
    )
    rows = {(r.layout, r.probe_dim): r for r in out.collect()}
    assert set(rows) == {
        (lay, dim)
        for lay in ("zorder", "hilbert", "date_sorted", "key_sorted")
        for dim in ("date", "key")
    }
    # single-dimension layouts: perfect on their own dimension (1 file),
    # useless on the other (every file touched)
    assert rows[("date_sorted", "date")].avg_files_touched == 1.0
    assert rows[("date_sorted", "key")].avg_files_touched == rows[
        ("date_sorted", "key")
    ].n_files
    assert rows[("key_sorted", "key")].avg_files_touched == 1.0
    assert rows[("key_sorted", "date")].avg_files_touched == rows[
        ("key_sorted", "date")
    ].n_files
    # z-order prunes BOTH dimensions: strictly better than the wrong-dim
    # full scan, touching only a bounded fraction of files
    for lay in ("zorder", "hilbert"):
        for dim in ("date", "key"):
            r = rows[(lay, dim)]
            assert 0 < r.avg_files_touched < r.n_files
            assert r.skip_pct > 0.5
    # skip_pct consistency
    for r in rows.values():
        assert abs(r.skip_pct - (1.0 - r.avg_files_touched / r.n_files)) < 1e-12


def test_merge_partial_aggs_full_outer_semantics(spark):
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.operators.incremental import (
        merge_partial_aggs,
    )

    old = spark.createDataFrame(
        [("a", 2, 10, 5.0, 1.0), ("b", 1, 7, 3.0, 3.0)],
        "k string, n long, s long, mx double, mn double",
    )
    delta = spark.createDataFrame(
        [("a", 1, 4, 9.0, 0.5), ("c", 3, 1, 2.0, 2.0)],
        "k string, n long, s long, mx double, mn double",
    )
    got = {
        r.k: (r.n, r.s, r.mx, r.mn)
        for r in merge_partial_aggs(
            old, delta, ["k"], {"n": "sum", "s": "sum", "mx": "max", "mn": "min"}
        ).collect()
    }
    assert got == {
        "a": (3, 14, 9.0, 0.5),   # merged both sides
        "b": (1, 7, 3.0, 3.0),    # old-only passes through
        "c": (3, 1, 2.0, 2.0),    # delta-only passes through
    }

    # unmergeable kinds refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        merge_partial_aggs(old, delta, ["k"], {"n": "median"}).collect()


def test_triangle_stats_known_graphs(spark):
    from securities_pricing_data_pipeline_spark.operators.graph import triangle_stats

    # K4: C(4,3)=4 triangles, 6 edges, 12 triads, clustering exactly 1.0
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "u long, v long"
    )
    row = triangle_stats(k4).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"], row["n_triads"]) == (
        4, 6, 4, 12,
    )
    assert row["global_clustering"] == 1.0

    # path 0-1-2-3: no triangles, 2 open triads
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u long, v long")
    row = triangle_stats(path).collect()[0]
    assert row["n_triangles"] == 0 and row["n_triads"] == 2
    assert row["global_clustering"] == 0.0

    # hub star + one closing edge: exactly one triangle at the hub
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(1, 2)], "u long, v long"
    )
    row = triangle_stats(star).collect()[0]
    assert row["n_triangles"] == 1


def test_label_propagation_known_graph(spark):
    """Hand-traced LPA on two triangles bridged by one edge:
    K3{1,2,3} - 3-4 - K3{4,5,6}. Round 1 is min-neighbor (all votes are
    singletons); round 2's majority/tie-break yields labels
    1→1, 2→1, 3→1, 4→4, 5→3, 6→3 — pinned exactly, plus the
    determinism re-run."""
    from securities_pricing_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)]
    sym = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["u", "v"]
    )
    got = {r.node: r.label for r in label_propagation(sym, rounds=2).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}
    again = {r.node: r.label for r in label_propagation(sym, rounds=2).collect()}
    assert got == again
    # one round = min-neighbor on an id-labeled graph
    r1 = {r.node: r.label for r in label_propagation(sym, rounds=1).collect()}
    assert r1 == {1: 2, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4}


def test_asof_bucketed_matches_plain(spark):
    """The time-bucketed (skew-parallel) as-of must be row-identical to
    the plain union-and-window plan, including inclusive-tie semantics
    and keys whose buckets have no quotes (carry-in path), on dense
    random data with a deliberately hot key."""
    from pyspark.sql import functions as F
    from securities_pricing_data_pipeline_spark.operators.asof import (
        asof_join_backward,
        asof_join_backward_bucketed,
    )

    # hot key 0 gets ~half of both sides; unique right times per key so
    # the carried quote is well-defined under ties with left times
    left = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 7).alias("k"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(500)) * 2).alias("t"),  # even
        F.col("id").alias("event_id"),
    )
    right = spark.range(400).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 7).alias("k"),
        F.col("id").alias("rt"),  # unique times, both parities → exercises ties
        (F.col("id") * 10).alias("px"),
    )
    plain = {
        r.event_id: (r.px, r.asof_time)
        for r in asof_join_backward(left, right, ["k"], "t", "rt", ["px"]).collect()
    }
    bucketed = {
        r.event_id: (r.px, r.asof_time)
        for r in asof_join_backward_bucketed(
            left, right, ["k"], "t", "rt", ["px"], n_buckets=16
        ).collect()
    }
    assert bucketed == plain
    assert len(plain) == 2000


def test_asof_bucketed_degenerate_span_falls_back(spark):
    from securities_pricing_data_pipeline_spark.operators.asof import (
        asof_join_backward_bucketed,
    )

    left = spark.createDataFrame([(1, 5, 100)], ["k", "t", "event_id"])
    right = spark.createDataFrame([(1, 5, 7.0)], ["k", "rt", "px"])
    out = asof_join_backward_bucketed(
        left, right, ["k"], "t", "rt", ["px"], n_buckets=8
    ).collect()
    assert len(out) == 1 and out[0].px == 7.0  # inclusive same-instant match


def test_asof_bucketed_date_axis_matches_plain(spark):
    """Date-typed time axes bucket via their epoch-day image (ANSI mode
    forbids date→double casts); output must still match the plain plan."""
    import datetime as dt

    from pyspark.sql import functions as F
    from securities_pricing_data_pipeline_spark.operators.asof import (
        asof_join_backward,
        asof_join_backward_bucketed,
    )

    d0 = dt.date(2020, 1, 1)
    left = spark.range(300).select(
        (F.col("id") % 5).alias("k"),
        F.date_add(F.lit(d0), (F.pmod(F.xxhash64("id"), F.lit(365))).cast("int")).alias("t"),
        F.col("id").alias("event_id"),
    )
    right = spark.range(60).select(
        (F.col("id") % 5).alias("k"),
        F.date_add(F.lit(d0), (F.col("id") * 6).cast("int")).alias("rt"),
        (F.col("id") * 10).alias("px"),
    )
    plain = {
        r.event_id: (r.px, r.asof_time)
        for r in asof_join_backward(left, right, ["k"], "t", "rt", ["px"]).collect()
    }
    bucketed = {
        r.event_id: (r.px, r.asof_time)
        for r in asof_join_backward_bucketed(
            left, right, ["k"], "t", "rt", ["px"], n_buckets=8
        ).collect()
    }
    assert bucketed == plain and len(plain) == 300


def test_asof_null_value_cols_row_semantics(spark):
    """Whole-row as-of semantics with NULLs in value_cols: the matched
    (latest at-or-before) right row's values are emitted AS-IS — a NULL
    price in the latest quote stays NULL, never back-filled from an
    older quote — and the bucketed plan is row-identical to the plain
    plan including across bucket boundaries (ADVICE r7 item)."""
    from pyspark.sql import functions as F
    from securities_pricing_data_pipeline_spark.operators.asof import (
        asof_join_backward,
        asof_join_backward_bucketed,
    )

    # k=1: quotes at t=0 (px=10, sz=1), t=10 (px=NULL, sz=2), t=20 (px=30, sz=NULL)
    right = spark.createDataFrame(
        [(1, 0, 10.0, 1), (1, 10, None, 2), (1, 20, 30.0, None)],
        "k int, rt int, px double, sz int",
    )
    left = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 101), (1, 25, 102), (1, 10, 103)],
        "k int, t int, event_id int",
    )
    expected = {
        100: (10.0, 1, 0),     # latest quote t=0
        101: (None, 2, 10),    # latest quote t=10: px NULL stays NULL
        103: (None, 2, 10),    # inclusive tie at t=10
        102: (30.0, None, 20), # latest quote t=20: sz NULL stays NULL
    }
    plain = {
        r.event_id: (r.px, r.sz, r.asof_time)
        for r in asof_join_backward(left, right, ["k"], "t", "rt", ["px", "sz"]).collect()
    }
    assert plain == expected
    # many buckets over the 0..25 span → quote-free buckets force the
    # cross-bucket carry-in path to move the NULL-bearing struct intact
    bucketed = {
        r.event_id: (r.px, r.sz, r.asof_time)
        for r in asof_join_backward_bucketed(
            left, right, ["k"], "t", "rt", ["px", "sz"], n_buckets=13
        ).collect()
    }
    assert bucketed == expected


def test_edge_triangle_support_known_graphs(spark):
    """Per-edge triangle support on hand-checked graphs: K4 (every edge
    in 2 triangles), a path (no triangles anywhere), and a triangle with
    a pendant edge (3 support-1 edges, 1 support-0 edge)."""
    from securities_pricing_data_pipeline_spark.operators.graph import (
        edge_triangle_support,
    )

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "u long, v long"
    )
    got = {(r.u, r.v): r.support for r in edge_triangle_support(k4).collect()}
    assert got == {(a, b): 2 for a in range(4) for b in range(a + 1, 4)}

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u long, v long")
    got = {(r.u, r.v): r.support for r in edge_triangle_support(path).collect()}
    assert got == {(0, 1): 0, (1, 2): 0, (2, 3): 0}

    tri_pendant = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "u long, v long"
    )
    got = {(r.u, r.v): r.support for r in edge_triangle_support(tri_pendant).collect()}
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 1, (2, 3): 0}


def test_kcore_peel_cascade(spark):
    """k=2 peel on a triangle with a 2-node tail: round 1 drops the tail
    tip (degree 1), round 2 drops the now-exposed middle tail node, the
    triangle itself is the stable 2-core."""
    from securities_pricing_data_pipeline_spark.operators.graph import kcore_peel

    # triangle 0-1-2, tail 2-3-4
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)], "u long, v long"
    )
    rows = {r.round: (r.n_nodes, r.n_edges) for r in kcore_peel(edges, k=2, rounds=3).collect()}
    assert rows == {1: (4, 4), 2: (3, 3), 3: (3, 3)}


def test_kcore_peel_until_fixpoint_finishes_cascade(spark):
    """A k=2 peel on a 10-node path is a pure cascade (each round exposes
    two new degree-1 endpoints): 3 fixed rounds under-peel (3 edges
    left), fixpoint mode finishes the cascade to the empty 2-core and
    flags convergence on the final stable row."""
    from securities_pricing_data_pipeline_spark.operators.graph import kcore_peel

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "u long, v long"
    )
    fixed = {r.round: r.n_edges for r in kcore_peel(path, k=2, rounds=3).collect()}
    assert fixed == {1: 7, 2: 5, 3: 3}  # under-peeled: true 2-core is empty
    fp = sorted(
        kcore_peel(path, k=2, until_fixpoint=True).collect(), key=lambda r: r.round
    )
    assert fp[-1].n_edges == 0 and fp[-1].converged
    assert all(not r.converged for r in fp[:-1])
    assert [r.n_edges for r in fp] == [7, 5, 3, 1, 0]

    # an input that is already a k-core converges in one confirming round
    tri = spark.createDataFrame([(0, 1), (0, 2), (1, 2)], "u long, v long")
    fp = kcore_peel(tri, k=2, until_fixpoint=True).collect()
    assert len(fp) == 1 and fp[0].converged and fp[0].n_edges == 3


def test_personalized_pagerank_shuffle_fallback_matches_broadcast(spark, monkeypatch):
    """r8 VERDICT item: PPR must gate its broadcasts like pagerank().
    Force the shuffle-join fallback (limit = 1 node) and require output
    identical to the broadcast plan."""
    from securities_pricing_data_pipeline_spark.operators import graph as graph_mod

    und = [(0, 1), (1, 2), (2, 3), (0, 3), (1, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    ref = {r.node: r.rank for r in graph_mod.personalized_pagerank(edges, seed=0, iters=3).collect()}
    monkeypatch.setattr(graph_mod, "BROADCAST_NODE_LIMIT", 1)
    got = {r.node: r.rank for r in graph_mod.personalized_pagerank(edges, seed=0, iters=3).collect()}
    assert got == ref and len(got) == 4


def test_personalized_pagerank_hand_checked(spark):
    """PPR on the path a-b-c seeded at a, 2 iterations by hand:
    r1 = (0.15, 0.85, 0); r2 = (0.51125, 0.1275, 0.36125) — mass stays
    concentrated near the seed and total mass is 1."""
    import pytest

    from securities_pricing_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    und = [(0, 1), (1, 2)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.rank for r in personalized_pagerank(edges, seed=0, iters=2).collect()}
    assert got[0] == pytest.approx(0.51125, abs=1e-9)
    assert got[1] == pytest.approx(0.1275, abs=1e-9)
    assert got[2] == pytest.approx(0.36125, abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_pagerank_zero_rank_pruning_keeps_dense_result(spark):
    """r15 locality pruning twin: the msgs join drops rank == 0.0 rows
    (they contribute exact decimal zero). On a graph with a component
    UNREACHABLE from the seed, every unreached node must still appear
    with rank exactly 0.0 (positive zero, via the coalesce path) and
    the reached component must match the hand-checkable dense values —
    i.e. pruning is invisible in the output."""
    import pytest

    from securities_pricing_data_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    # component A: path 0-1; component B: pair 10-11 (never reached)
    und = [(0, 1), (10, 11)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.rank for r in personalized_pagerank(edges, seed=0, iters=3).collect()}
    assert set(got) == {0, 1, 10, 11}
    assert got[10] == 0.0 and got[11] == 0.0
    # dense hand-walk on 0-1 seeded at 0 (deg 1 each):
    # r1 = (0.15, 0.85); r2 = (0.8725, 0.1275); r3 = (0.258375, 0.741625)
    assert got[0] == pytest.approx(0.258375, abs=1e-9)
    assert got[1] == pytest.approx(0.741625, abs=1e-9)


def test_transit_sweep_matches_brute_force(spark, tmp_path):
    """Sweep-line open-interval census equals the brute-force per-date
    overlap count on a small synthetic lineitem."""
    import datetime as dt

    from securities_pricing_data_pipeline_spark.queries.analytic import (
        transit_timeline_sweep,
    )

    d0 = dt.date(2020, 1, 1)
    rows = [
        (ok, ln, d0 + dt.timedelta(days=(ok * 3 + ln) % 15))
        for ok in range(1, 21) for ln in range(1, 4)
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_linenumber long, l_shipdate date")
    path = str(tmp_path)
    li.write.parquet(f"{path}/lineitem.parquet")
    out = {r.d: r.open_lines for r in transit_timeline_sweep(spark, path).collect()}
    # brute force in python
    ivs = [
        (s, s + dt.timedelta(days=(ok * 10 + ln) % 21 + 1))
        for ok, ln, s in rows
    ]
    for d, cnt in out.items():
        truth = sum(1 for s, e in ivs if s <= d <= e)
        assert cnt == truth, (d, cnt, truth)


def test_hits_bipartite_hand_checked(spark):
    """HITS on s1→{p10,p11}, s2→{p11}, 2 rounds by hand:
    a1 = (1/3, 2/3) → h1 = (0.6, 0.4) → a2 = (0.375, 0.625) →
    h2 = (0.6153846…, 0.3846153…); each side L1-sums to 1."""
    import pytest

    from securities_pricing_data_pipeline_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 11)], "src long, dst long"
    )
    h, a = hits(edges, iters=2)
    hub = {r.node: r.h for r in h.collect()}
    auth = {r.node: r.a for r in a.collect()}
    assert hub[1] == pytest.approx(1.0 / 1.625, abs=1e-9)
    assert hub[2] == pytest.approx(0.625 / 1.625, abs=1e-9)
    assert auth[10] == pytest.approx(0.375, abs=1e-9)
    assert auth[11] == pytest.approx(0.625, abs=1e-9)
    assert sum(hub.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(auth.values()) == pytest.approx(1.0, abs=1e-9)


def test_cosupply_sym_silver_cached_and_symmetric(spark):
    """The symmetric edge silver is built once per (session, sf, key) —
    the second call must return the SAME persisted frame (the r9 fix for
    the r8 pagerank drift) — and must contain every edge in both
    directions exactly once."""
    from securities_pricing_data_pipeline_spark.queries.analytic import (
        _copurchase_edges,
        _cosupply_sym_edges,
    )

    sf = "/root/testdata/sf0.001"
    a = _cosupply_sym_edges(spark, sf, "l_suppkey")
    b = _cosupply_sym_edges(spark, sf, "l_suppkey")
    assert a is b  # cache hit, not a rebuild
    und = {(r.u, r.v) for r in _copurchase_edges(spark, sf, "l_suppkey").collect()}
    sym = [(r.u, r.v) for r in a.collect()]
    assert len(sym) == 2 * len(und) == len(set(sym))
    assert {(u, v) for u, v in sym if u < v} == und
    assert {(v, u) for u, v in sym if u > v} == und


def test_hits_rejects_zero_iters(spark):
    """iters=0 would return (unnormalized hubs, None) and crash the
    CALLER at authority-use time (ADVICE r9 #4) — must raise here."""
    import pytest

    from securities_pricing_data_pipeline_spark.operators.graph import hits

    edges = spark.createDataFrame([(1, 10)], "src long, dst long")
    with pytest.raises(ValueError, match="iters >= 1"):
        hits(edges, iters=0)


def test_silver_caches_per_session_and_evicts_stale_sessions(spark, sf_dir, monkeypatch):
    """``@silver`` keys on (builder, applicationId, sf_dir, params with
    defaults applied). Storing an entry for a NEW applicationId drops
    every entry owned by other (dead) sessions, the bars silver's
    included, so no registry grows across session cycles (VERDICT r9
    item 2). ``cache_clear()`` drops only its own builder's entries."""
    import types

    from securities_pricing_data_pipeline_spark.queries import helpers
    from securities_pricing_data_pipeline_spark.queries.bars import bars_silver

    monkeypatch.setattr(helpers, "_SILVERS", {})
    builds = []

    @helpers.silver
    def shingles(spark, sf_dir, n=3):
        builds.append((spark.sparkContext.applicationId, sf_dir, n))
        return object()

    @helpers.silver
    def sigs(spark, sf_dir):
        return object()

    def session(app):
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId=app))

    def owners():
        return {k[1] for k in helpers._SILVERS}

    s1 = session("app-1")
    a = shingles(s1, "sfA")
    assert shingles(s1, "sfA") is a  # same-session repeat
    assert shingles(s1, "sfA", 3) is a and shingles(s1, sf_dir="sfA", n=3) is a
    assert shingles(s1, "sfA", 5) is not a  # different params
    assert shingles(s1, "sfB") is not a  # different sf_dir
    assert builds == [("app-1", "sfA", 3), ("app-1", "sfA", 5), ("app-1", "sfB", 3)]
    assert shingles.__name__ == "shingles"

    bars = bars_silver(spark, sf_dir)
    assert owners() == {spark.sparkContext.applicationId}  # app-1 evicted
    s2 = session("app-2")
    x, y = shingles(s2, "sfA"), sigs(s2, "sfA")
    assert owners() == {"app-2"}  # the bars silver is evicted too

    shingles.cache_clear()
    assert sigs(s2, "sfA") is y  # other builders keep their entries
    assert shingles(s2, "sfA") is not x
    assert bars_silver(spark, sf_dir) is not bars  # rebuilt after eviction


def test_upsert_prefer_source_order_breaks_source_ties(spark, tmp_path):
    """An in-batch duplicate key keeps the row ``prefer_source_order``
    ranks first, existing rows lose to any source row, an untouched
    partition stays, and the counts see one source key per duplicate."""
    d1, d2 = dt.date(2026, 1, 1), dt.date(2026, 1, 2)
    schema = "symbol string, trade_date date, v double"
    base = spark.createDataFrame([("A", d1, 1.0), ("B", d1, 2.0), ("A", d2, 3.0)], schema)
    src = spark.createDataFrame([("A", d1, 4.0), ("A", d1, 10.0), ("C", d1, 5.0)], schema)
    keys = ["symbol", "trade_date"]
    path = str(tmp_path / "t")
    upsert_partitions(spark, base, path, keys=keys)
    counts = upsert_partitions(spark, src, path, keys=keys, prefer_source_order=[F.desc("v")])
    assert counts == MergeCounts(inserted=1, updated=1, written=3)
    got = {tuple(r) for r in spark.read.parquet(path).select("symbol", "trade_date", "v").collect()}
    assert got == {("A", d1, 10.0), ("B", d1, 2.0), ("C", d1, 5.0), ("A", d2, 3.0)}


def test_merge_batch_replayed_out_of_order(spark, tmp_path):
    """Streaming-CDC apply: the second micro-batch is replayed out of
    order (an older ts for user A, a newer one for B, a new user C). The
    (ts, event_id) LWW re-reduce must not let the stale A row regress
    the table."""
    from securities_pricing_data_pipeline_spark.operators import merge

    schema = "user_id string, ts long, event_id long, event_type string, value double"
    b1 = spark.createDataFrame(
        [("A", 10, 1, "x", 1.0), ("A", 12, 2, "y", 2.0), ("B", 5, 3, "x", 3.0)], schema
    )
    b2 = spark.createDataFrame(
        [("A", 8, 4, "z", 9.0), ("B", 7, 5, "w", 4.0), ("C", 1, 6, "x", 5.0)], schema
    )
    path = str(tmp_path / "cdc")
    for b in (b1, b2):
        merge.merge_batch(spark, b, path, keys=["user_id"], order_cols=["ts", "event_id"])
    got = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert got == {("A", 12, 2, "y", 2.0), ("B", 7, 5, "w", 4.0), ("C", 1, 6, "x", 5.0)}


def test_landmark_bfs_hand_checked(spark):
    """Path graph 1–2–3–4–5 plus isolated pair 8–9, symmetric edges,
    seeds {1, 8}, depth 3: landmark 1 reaches 2/3/4 at dists 1/2/3 (5 is
    4 hops — excluded); landmark 8 reaches 9 at 1. BFS level order must
    yield MINIMAL dists even though node 3 is reachable at depth 3 via
    1→2→1→2... (revisits are anti-joined away)."""
    from securities_pricing_data_pipeline_spark.operators.graph import landmark_bfs

    und = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {
        (r.landmark, r.node): r.dist
        for r in landmark_bfs(edges, seeds=[1, 8], max_depth=3).collect()
    }
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3,
        (8, 8): 0, (8, 9): 1,
    }


def test_asof_nearest_hand_checked(spark):
    """merge_asof(direction='nearest') semantics with right times
    {7, 11, 12}: left t=10 → 11 (dist 1 beats backward 7's dist 3);
    left t=9 equidistant between 7 and 11 → tie breaks BACKWARD to 7;
    left t=1 has no earlier right → forward 7; a key with no right rows
    survives with a null match."""
    from securities_pricing_data_pipeline_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [("A", 10, 1), ("A", 9, 2), ("A", 1, 3), ("B", 5, 4)],
        "k string, t long, lid long",
    )
    right = spark.createDataFrame(
        [("A", 7, 70.0), ("A", 12, 120.0), ("A", 11, 110.0)],
        "k string, t long, px double",
    )
    out = {
        r.lid: (r.asof_time, r.px)
        for r in asof_join_nearest(
            left, right, key=["k"], left_time="t", right_time="t",
            value_cols=["px"],
        ).collect()
    }
    assert out[1] == (11, 110.0)
    assert out[2] == (7, 70.0)  # equidistant -> backward
    assert out[3] == (7, 70.0)  # nothing earlier -> forward
    assert out[4] == (None, None)  # no right rows for key B


def test_modularity_two_triangle_bridge(spark):
    """Hand-computed Newman modularity on K3{1,2,3} — 3-4 — K3{4,5,6}
    with the triangle partition: m = 7, each community has 3 intra edges
    and degree sum 7 → Q_c = (4·7·3 − 49)/(4·49) = 35/196 exactly, both
    sides; total Q = 70/196. Also pins the zero-intra path (singleton
    labels ⇒ q_contrib = −d²/(4m²))."""
    from securities_pricing_data_pipeline_spark.operators.graph import modularity

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)]
    sym = spark.createDataFrame(und + [(b, a) for a, b in und], ["u", "v"])
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)], ["node", "label"]
    )
    rows = {r.community: r for r in modularity(sym, labels).collect()}
    assert set(rows) == {1, 4}
    for c in (1, 4):
        assert rows[c].n_members == 3
        assert rows[c].intra_edges == 3
        assert rows[c].degree_sum == 7
        assert rows[c].q_contrib == 35.0 / 196.0
    # singleton labels: no intra edges anywhere, q = −d²/(4m²)
    singles = spark.createDataFrame([(i, i) for i in range(1, 7)], ["node", "label"])
    srows = {r.community: r for r in modularity(sym, singles).collect()}
    assert all(r.intra_edges == 0 for r in srows.values())
    assert srows[3].q_contrib == -9.0 / 196.0


def test_l_diversity_violations(spark):
    """Groups are flagged iff the sensitive attribute has < l distinct
    values, regardless of group size — the leak k-anonymity misses."""
    from securities_pricing_data_pipeline_spark.operators.quality import (
        l_diversity_violations,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, "X"), ("a", 1, "X"), ("a", 1, "X"),  # big but 1 value
            ("b", 2, "X"), ("b", 2, "Y"),                 # 2 values
            ("c", 3, "X"), ("c", 3, "Y"), ("c", 3, "Z"),  # diverse enough
        ],
        ["qi1", "qi2", "sens"],
    )
    got = {
        (r.qi1, r.qi2): (r.k_count, r.l_distinct)
        for r in l_diversity_violations(df, ["qi1", "qi2"], "sens", l=3).collect()
    }
    assert got == {("a", 1): (3, 1), ("b", 2): (2, 2)}
