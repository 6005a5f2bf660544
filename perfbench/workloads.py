"""The benchmark's workloads: inputs from the seed, set-up, one op, checks.

Every workload is a closed loop with one client: the next op starts when
the previous one returns. The program is driven only through its public
surface (`PseDatasets`, `ParquetTable`, `FakePseEdge`); expected results
come from `FakePseEdge`'s closed-form rows, computed here in pandas.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import string
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import date, timedelta

import pandas as pd

# name -> (symbols, trading days in the base store, trading days per backfill op)
SIZES = {
    "full": (300, 20, 20),
    "smoke": (12, 8, 5),
}
VACUUM_EVERY = 4  # daily_sync: vacuum after every 4th sync
HISTORY_DAYS = 20  # store_reads: symbol_history window (trading days)
SECTOR_WINDOW_DAYS = 20  # store_reads: sector_trailing window (trading days)
Check = Callable[[], "str | None"]  # None when an op's result is correct
PRICE_COLS = ["symbol", "date", "open", "high", "low", "close", "extracted_at"]


def next_trading_day(d: date) -> date:
    d += timedelta(days=1)
    while d.weekday() >= 5:
        d += timedelta(days=1)
    return d


def trading_days(start: date, n: int) -> list[date]:
    days = [start if start.weekday() < 5 else next_trading_day(start)]
    while len(days) < n:
        days.append(next_trading_day(days[-1]))
    return days


@dataclass
class Inputs:
    """Everything the seed decides."""

    seed: int
    symbols: list[str]
    history_start: date
    base_days: int
    backfill_days: int
    rng: random.Random = field(repr=False)

    @classmethod
    def from_seed(cls, seed: int, size: str) -> Inputs:
        n_symbols, base_days, backfill_days = SIZES[size]
        rng = random.Random(seed)
        symbols: set[str] = set()
        while len(symbols) < n_symbols:
            symbols.add("".join(rng.choices(string.ascii_uppercase, k=rng.choice((2, 3, 4)))))
        start = date(2021, 1, 4) + timedelta(days=rng.randrange(0, 1200))
        return cls(seed, sorted(symbols), start, base_days, backfill_days, rng)

    def connector(self):
        from pse_stocks_etl_spark.sources.pse_edge import FakePseEdge

        return FakePseEdge(symbols=list(self.symbols), history_start=self.history_start.isoformat())


def expected_prices(inputs: Inputs, last_day: date) -> pd.DataFrame:
    """The closed-form fact rows for universe x trading days up to last_day."""
    c = inputs.connector()
    frames = [c.get_stock_data(s, inputs.history_start, last_day) for s in inputs.symbols]
    return pd.concat(frames, ignore_index=True)


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    """Rows as sorted tuples of plain Python values, for exact comparison."""
    out = []
    for r in pdf[PRICE_COLS].itertuples(index=False):
        out.append(
            (
                r.symbol,
                pd.Timestamp(r.date).date().isoformat(),
                float(r.open),
                float(r.high),
                float(r.low),
                float(r.close),
                pd.Timestamp(r.extracted_at).isoformat(),
            )
        )
    out.sort()
    return out


def table_rows(ds) -> list[tuple]:
    return _canon(ds.prices.read().toPandas())


def table_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def check_table(rows: list[tuple], inputs: Inputs, last_day: date) -> str | None:
    """None when the price table is key-unique and equals the closed form."""
    keys = {(r[0], r[1]) for r in rows}
    if len(keys) != len(rows):
        return f"{len(rows) - len(keys)} duplicate (symbol, date) keys"
    want = _canon(expected_prices(inputs, last_day))
    if rows != want:
        return f"table differs from closed form: {len(rows)} rows vs {len(want)} expected"
    return None


def store_bytes_per_row(ds, live_rows: int) -> float:
    """On-disk bytes of the price table incl. retained versions, each
    hardlinked inode counted once, per live row."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _, files in os.walk(ds.prices.path):
        for fn in files:
            st = os.lstat(os.path.join(dirpath, fn))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total / max(live_rows, 1)


def version_files(ds) -> tuple[int, int, int]:
    """(files written, files hardlinked, partition dirs) of the current
    price-table version: a file still at link count 1 was written by the
    latest commit; one with more links was carried over."""
    vdir = os.path.join(ds.prices.path, "_versions", ds.prices._pointer())
    written = linked = parts = 0
    for entry in os.listdir(vdir):
        pdir = os.path.join(vdir, entry)
        if not os.path.isdir(pdir):
            continue
        parts += 1
        for fn in os.listdir(pdir):
            if fn.endswith(".parquet"):
                if os.stat(os.path.join(pdir, fn)).st_nlink > 1:
                    linked += 1
                else:
                    written += 1
    return written, linked, parts


def build_base(spark, root: str, inputs: Inputs):
    """The base store through the public backfill: universe x base_days."""
    from pse_stocks_etl_spark.plans.sync import PseDatasets

    shutil.rmtree(root, ignore_errors=True)
    ds = PseDatasets(spark, root, connector=inputs.connector())
    last = trading_days(inputs.history_start, inputs.base_days)[-1]
    ds.initdb()
    ds.backfill(today=(last + timedelta(days=1)).isoformat())
    return ds, last


# -- workloads ---------------------------------------------------------------


class DailySync:
    """One PseDatasets.sync per op; each ingests the next trading day."""

    name = "daily_sync"
    warmup_ops = 1

    def __init__(self, spark, work: str, inputs: Inputs) -> None:
        self.spark, self.work, self.inputs = spark, work, inputs

    def setup(self) -> None:
        self.ds, self.last_day = build_base(self.spark, os.path.join(self.work, "store"), self.inputs)
        self.syncs = 0

    def prepare(self) -> None:
        pass

    def run_op(self) -> tuple[int, Check]:
        day = next_trading_day(self.last_day)
        out = self.ds.sync(today=(day + timedelta(days=1)).isoformat())
        self.last_day = day
        self.syncs += 1
        if self.syncs % VACUUM_EVERY == 0:
            self.vacuum()
        n = len(self.inputs.symbols)
        want = {"companies": n, "price_rows": n}
        return out["price_rows"], lambda: None if out == want else f"sync returned {out}, expected {want}"

    def vacuum(self) -> None:
        self.ds.prices.vacuum()
        self.ds.company.vacuum()

    def finish(self) -> tuple[list[tuple], str | None]:
        rows = table_rows(self.ds)
        return rows, check_table(rows, self.inputs, self.last_day)


class Backfill:
    """One initdb + backfill into an empty store per op."""

    name = "backfill"
    warmup_ops = 1

    def __init__(self, spark, work: str, inputs: Inputs) -> None:
        self.spark, self.work, self.inputs = spark, work, inputs
        days = trading_days(inputs.history_start, inputs.backfill_days)
        self.last_day = days[-1]
        self.rows = len(days) * len(inputs.symbols)
        self.n = 0

    def setup(self) -> None:
        pass

    def prepare(self) -> None:
        # A fresh, empty root per op; the previous op's store is removed
        # here, outside the timed op.
        self.n += 1
        self.root = os.path.join(self.work, f"store{self.n % 2}")
        shutil.rmtree(os.path.join(self.work, f"store{(self.n + 1) % 2}"), ignore_errors=True)
        shutil.rmtree(self.root, ignore_errors=True)

    def run_op(self) -> tuple[int, Check]:
        from pse_stocks_etl_spark.plans.sync import PseDatasets

        self.ds = PseDatasets(self.spark, self.root, connector=self.inputs.connector())
        self.ds.initdb()
        out = self.ds.backfill(today=(self.last_day + timedelta(days=1)).isoformat())
        n = out["price_rows"]
        return n, lambda: None if n == self.rows else f"backfill returned {out}, expected {self.rows} rows"

    def finish(self) -> tuple[list[tuple], str | None]:
        rows = table_rows(self.ds)
        return rows, check_table(rows, self.inputs, self.last_day)


class StoreReads:
    """One op is a dashboard refresh: the three read types, in a seeded
    order, over the base store; symbol_history reads a seeded symbol."""

    name = "store_reads"
    warmup_ops = 2
    KINDS = ("latest_price", "symbol_history", "sector_trailing")

    def __init__(self, spark, work: str, inputs: Inputs) -> None:
        self.spark, self.work, self.inputs = spark, work, inputs
        self.kind_s: dict[str, float] = {}

    def setup(self) -> None:
        self.ds, self.last_day = build_base(self.spark, os.path.join(self.work, "store"), self.inputs)
        prices = expected_prices(self.inputs, self.last_day)
        companies = self.inputs.connector().get_listed_companies()
        self.live_rows = len(prices)
        self.expected = {
            "latest_price": _expected_latest(prices, companies),
            "sector_trailing": _expected_sector(prices, companies),
        }
        self.history = {
            s: _canon(g.sort_values("date").tail(HISTORY_DAYS)) for s, g in prices.groupby("symbol")
        }

    def prepare(self) -> None:
        self.order = list(self.KINDS)
        self.inputs.rng.shuffle(self.order)
        self.symbol = self.inputs.rng.choice(self.inputs.symbols)

    def run_op(self) -> tuple[int, Check]:
        symbol, got = self.symbol, {}
        for kind in self.order:
            t = time.perf_counter()
            got[kind] = READS[kind](self.ds, symbol).toPandas()
            self.kind_s[kind] = time.perf_counter() - t

        def check() -> str | None:
            bad = [k for k in self.KINDS if not self._matches(k, got[k], symbol)]
            return f"{', '.join(bad)} differ from pandas" if bad else None

        return self.live_rows * len(self.KINDS), check

    def _matches(self, kind: str, got: pd.DataFrame, symbol: str) -> bool:
        if kind == "latest_price":
            return _rows(got, LATEST_COLS) == self.expected[kind]
        if kind == "symbol_history":
            return _canon(got) == self.history[symbol]
        have, want = got.sort_values("sector"), self.expected[kind]
        return list(have.sector) == list(want.sector) and all(
            abs(a - b) <= 1e-9 * abs(b) for a, b in zip(have.avg_close, want.avg_close)
        )

    def finish(self) -> tuple[list[tuple], str | None]:
        rows = table_rows(self.ds)
        return rows, check_table(rows, self.inputs, self.last_day)


WORKLOADS = {w.name: w for w in (DailySync, Backfill, StoreReads)}


# -- the three reads and their pandas counterparts ---------------------------


def latest_price(ds, symbol=None):
    """Latest close per symbol, joined to company."""
    from pyspark.sql import functions as F

    prices = ds.prices.read()
    latest = prices.groupBy("symbol").agg(F.max("date").alias("date"))
    return (
        prices.join(latest, ["symbol", "date"])
        .join(ds.company.read(), "symbol")
        .select("symbol", "company_name", "date", "close")
    )


def symbol_history(ds, symbol: str):
    """One symbol's trailing HISTORY_DAYS trading days."""
    from pyspark.sql import functions as F

    return ds.prices.read().filter(F.col("symbol") == symbol).orderBy(F.col("date").desc()).limit(
        HISTORY_DAYS
    )


def sector_trailing(ds, symbol=None):
    """Average close per sector over the trailing SECTOR_WINDOW_DAYS
    trading days (every weekday is a trading day in this feed)."""
    from pyspark.sql import functions as F

    prices = ds.prices.read()
    cutoff = prices.agg(F.max("date").alias("d")).select(
        F.date_sub("d", SECTOR_WINDOW_DAYS // 5 * 7 - 1).alias("cutoff")
    )
    return (
        prices.crossJoin(F.broadcast(cutoff))
        .filter(F.col("date") >= F.col("cutoff"))
        .join(ds.company.read().select("symbol", "sector"), "symbol")
        .groupBy("sector")
        .agg(F.avg("close").alias("avg_close"))
    )


READS = {"latest_price": latest_price, "symbol_history": symbol_history, "sector_trailing": sector_trailing}
LATEST_COLS = ["symbol", "company_name", "date", "close"]


def _rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    out = [
        tuple(pd.Timestamp(v).date().isoformat() if c == "date" else v for c, v in zip(cols, r))
        for r in pdf[cols].itertuples(index=False)
    ]
    return sorted(out)


def _expected_latest(prices: pd.DataFrame, companies: pd.DataFrame) -> list[tuple]:
    last = prices.sort_values("date").groupby("symbol").tail(1)
    return _rows(last.merge(companies, on="symbol"), LATEST_COLS)


def _expected_sector(prices: pd.DataFrame, companies: pd.DataFrame) -> pd.DataFrame:
    days = sorted(prices.date.unique())[-SECTOR_WINDOW_DAYS:]
    recent = prices[prices.date.isin(days)].merge(companies[["symbol", "sector"]], on="symbol")
    return (
        recent.groupby("sector", as_index=False)["close"]
        .mean()
        .rename(columns={"close": "avg_close"})
        .sort_values("sector")
    )
