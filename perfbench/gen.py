"""Seeded input generators for the benchmark workloads.

Two kinds of input, both written under the run's work directory and both a
pure function of the seed:

* EOD landing CSVs for the daily pipeline, shaped like the reference
  downloader's files (``trade_date,symbol,open,high,low,close,volume``),
  one directory per delivery (``eod/YYYY/MM/DD/`` for the first delivery of
  a trading day, ``restate/YYYY/MM/DD/vN/`` for a correction). Every file
  carries the fault mix of ``tests/fixtures.py``: negative-volume ``_X`` /
  ``_TEST`` tickers, duplicate keys, case and whitespace variants, ``''``
  and ``NULL`` price sentinels, and corrupt rows that ``ON_ERROR='CONTINUE'``
  must skip. The generator also returns the parsed rows, so the checks can
  reduce the inputs in pure Python without reading them back.
* TPC-H-ish parquet tables (plus ``documents`` and ``embeddings``) with the
  schemas and value shapes of the engine's testdata, for the query
  workloads.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import string
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEADER = "trade_date,symbol,open,high,low,close,volume"
N_SYMBOLS = 6000  # the reference's active universe per trading day
CHURN = 20  # symbols that delist, and list, each day
CORRECTED = 300  # symbols a corrected re-delivery restates
FIRST_DAY = dt.date(2026, 1, 5)


@dataclass(frozen=True)
class Row:
    """One parsed landing row: the raw symbol text and typed values
    (``None`` for a NULL sentinel)."""

    symbol: str
    open: Decimal | None
    high: Decimal | None
    low: Decimal | None
    close: Decimal | None
    volume: int


@dataclass(frozen=True)
class Delivery:
    path: str  # landing directory handed to the pipeline
    day: dt.date
    rows: tuple[Row, ...]  # rows that survive the CSV read
    n_bytes: int


def _fmt(v: Decimal | None, sentinel: str) -> str:
    return sentinel if v is None else str(v)


def _price(x: float) -> Decimal:
    return Decimal(f"{x:.4f}")


class EodGenerator:
    """Landing files for a run of trading days over one symbol universe.

    Each day trades ``N_SYMBOLS`` tickers from a sliding window over the
    universe, so ``CHURN`` symbols leave and ``CHURN`` new ones list every
    day and the security dimension grows. Prices follow a per-symbol walk.
    """

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.seed = seed
        rnd = random.Random(seed)
        n_universe = N_SYMBOLS + CHURN * 400
        names: set[str] = set()
        while len(names) < n_universe:
            k = rnd.choice((3, 4, 4, 5))
            names.add("".join(rnd.choice(string.ascii_uppercase) for _ in range(k)))
        self.universe = sorted(names)
        rnd.shuffle(self.universe)
        self.base = {s: rnd.uniform(2.0, 400.0) for s in self.universe}
        self.days: list[dt.date] = []
        d = FIRST_DAY
        while len(self.days) < 400:
            if d.weekday() < 5:
                self.days.append(d)
            d += dt.timedelta(days=1)
        self._versions: dict[dt.date, int] = {}
        self._new_listings = 0

    def active(self, i: int) -> list[str]:
        lo = i * CHURN
        return self.universe[lo : lo + N_SYMBOLS]

    def _bar(self, rnd: random.Random, sym: str, i: int) -> Row:
        ref = self.base[sym] * (1 + 0.002 * i)
        o = ref * rnd.uniform(0.97, 1.03)
        c = ref * rnd.uniform(0.97, 1.03)
        h = max(o, c) * rnd.uniform(1.0, 1.02)
        low = min(o, c) * rnd.uniform(0.98, 1.0)
        return Row(sym, _price(o), _price(h), _price(low), _price(c), rnd.randint(1_000, 999_999_999))

    def _write(self, path: str, day: dt.date, rows: list[Row], corrupt: list[str]) -> Delivery:
        os.makedirs(path, exist_ok=True)
        d = day.isoformat()
        lines = [HEADER]
        for r in rows:
            sym = f'"{r.symbol}"' if r.symbol != r.symbol.strip() else r.symbol
            lines.append(
                f"{d},{sym},{_fmt(r.open, '')},{_fmt(r.high, 'NULL')},"
                f"{_fmt(r.low, '')},{_fmt(r.close, 'NULL')},{r.volume}"
            )
        lines += corrupt
        body = "\n".join(lines) + "\n"
        fname = os.path.join(path, f"eod_prices_{day:%Y%m%d}.csv")
        with open(fname, "w", encoding="utf-8") as fh:
            fh.write(body)
        return Delivery(path, day, tuple(rows), len(body.encode()))

    def day_file(self, i: int) -> Delivery:
        """The first delivery of trading day ``i`` with the full fault mix."""
        day = self.days[i]
        rnd = random.Random(self.seed * 1_000_003 + i)
        syms = self.active(i)
        rows = [self._bar(rnd, s, i) for s in syms]
        # ''/NULL sentinels replace some fields of 20 symbols' only row
        for j in rnd.sample(range(len(rows)), 20):
            r = rows[j]
            rows[j] = Row(r.symbol, None, r.high if j % 2 else None, r.low, None if j % 3 == 0 else r.close, r.volume)
        extra: list[Row] = []
        # negative-volume rejects on _X / _TEST tickers (the S4 fault fixture)
        for j, s in enumerate(rnd.sample(syms, 12)):
            b = self._bar(rnd, s, i)
            extra.append(Row(f"{s}_{'X' if j % 2 else 'TEST'}", b.open, b.high, b.low, b.close, -rnd.randint(1, 2_000_000)))
        # duplicate keys with different values: the dedup tie-break decides
        for s in rnd.sample(syms, 30):
            extra.append(self._bar(rnd, s, i))
        # case / whitespace variants that collapse under UPPER(TRIM(...))
        for j, s in enumerate(rnd.sample(syms, 30)):
            variant = (f" {s.lower()} ", s.lower(), f"{s} ", f"  {s.capitalize()}")[j % 4]
            b = self._bar(rnd, s, i)
            extra.append(Row(variant, b.open, b.high, b.low, b.close, b.volume))
        rows += extra
        rnd.shuffle(rows)
        d = day.isoformat()
        corrupt = [
            f"{d},BADPRICE,not_a_number,11.0,9.0,10.5,1000",
            f"not_a_date,BADDATE,10.0,11.0,9.0,10.5,1000",
            f"{d},SHORTROW,10.0",
            f"{d},BADVOL,10.0,11.0,9.0,10.5,many",
        ]
        return self._write(os.path.join(self.root, "eod", f"{day:%Y/%m/%d}"), day, rows, corrupt)

    def correction(self, i: int) -> Delivery:
        """A corrected re-delivery of day ``i``: new values for ``CORRECTED``
        of the day's symbols, two first-time listings and one reject."""
        day = self.days[i]
        v = self._versions.get(day, 0) + 1
        self._versions[day] = v
        rnd = random.Random(self.seed * 7_919 + i * 101 + v)
        rows = [self._bar(rnd, s, i + v) for s in rnd.sample(self.active(i), CORRECTED)]
        for _ in range(2):
            self._new_listings += 1
            sym = f"NEW{self._new_listings:04d}Q"
            self.base[sym] = rnd.uniform(5.0, 50.0)
            rows.append(self._bar(rnd, sym, i))
        b = self._bar(rnd, rows[0].symbol, i)
        rows.append(Row(f"{rows[0].symbol}_X", b.open, b.high, b.low, b.close, -rnd.randint(1, 999)))
        rnd.shuffle(rows)
        path = os.path.join(self.root, "restate", f"{day:%Y/%m/%d}", f"v{v}")
        return self._write(path, day, rows, [f"{day.isoformat()},SHORTROW,1.0"])


# ---------------------------------------------------------------------------
# TPC-H-ish tables for the query workloads

_WORDS = (
    "merge window customer spark part group stream filter the sort scan vector "
    "join query big hash column data agg table line small slow key fast order "
    "row value a batch"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
_DAY0 = np.datetime64("1995-01-02")
_N_DAYS = 2499


def _ts_days(rng: np.random.Generator, n: int) -> np.ndarray:
    return (_DAY0 + rng.integers(0, _N_DAYS, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten input tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = int(50_000 * sf), max(int(20_000 * sf), 500)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "large", "red", "blue", "hot", "old", "new", "shiny"])
    noun = np.array(["ring", "bolt", "plate", "widget", "gear", "nut", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts_days(rng, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    n_li = len(okey)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(rng, n_li),
    })
    secs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 20, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for k in range(n_docs):
        if k > 20 and rng.random() < 0.05:  # near-duplicates for the dedup family
            src = texts[int(rng.integers(0, k))]
            texts.append(src if rng.random() < 0.1 else src + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    langs = np.array([lang for lang, _ in _LANGS])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(len(langs), n_docs, p=[p for _, p in _LANGS])],
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    for name, t in tables.items():
        # one row group per file, like the engine's testdata
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) + 1)
