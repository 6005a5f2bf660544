"""PSE Edge market-data connector (SURVEY.md §2.1 S1-S3).

The reference fetches from the PSE Edge REST/HTML endpoints with
driver-side requests + a thread pool (reference: src/utils/pse_edge.py,
src/utils/multithreading.py). This engine keeps the connector OUT of the
query path and distributes the fetch itself:

- `PseEdgeClient` — the real HTTP client surface (company directory,
  company info, daily price history). The TRANSPORT is injectable: the
  default `UrllibTransport` does live HTTP on the standard library
  (with a timeout on every call and bounded retry+backoff — a stalled
  connection can never hang a sync), while tests inject a recorded
  transport so all three client methods run their full
  request→parse→normalize path hermetically.
- `FakePseEdge` — a deterministic synthetic market-data source with the
  exact same contract, seeded per (symbol, date) via md5, used by tests
  and the sync demo. Prices are 2-dp decimals satisfying
  low <= min(open, close) <= max(open, close) <= high.
- `distributed_fetch` — the Spark-native replacement for the
  reference's thread pool (multithreading.py:20-76): the per-key fetch
  windows (a DataFrame) are repartitioned by symbol and each executor
  partition pulls its symbols' history inside `mapInPandas`. At 1000
  executors this is 1000-way parallel ingest with no driver bottleneck;
  per-partition batches arrive as Arrow, already in the fact schema.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from datetime import date, timedelta

import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import COMPANY_COLUMNS, DAILY_STOCK_PRICE_SCHEMA, PRICE_COLUMNS


class UnknownSymbolError(Exception):
    """Raised when a symbol has no exact match in PSE Edge (the
    reference's UnknownSymbolException, pse_edge.py:63-67)."""


class UrllibTransport:
    """Live HTTP transport on the STANDARD LIBRARY only (urllib): a
    timeout on every call and bounded retry with exponential backoff on
    transient failures (connection errors, timeouts, HTTP 5xx); 4xx
    responses raise immediately — retrying a bad request never helps.
    The reference's requests calls pass no timeout (reference
    pse_edge.py:80-118); this surface runs on real networks, so a
    stalled connection must fail the task, not hang the sync. Proven
    over real sockets by the loopback-server tests
    (tests/test_pse_edge_live.py)."""

    def __init__(
        self, timeout: float = 30.0, retries: int = 3, backoff: float = 1.0
    ) -> None:
        self.timeout = timeout
        self.retries = retries
        self.backoff = backoff

    def _call(self, make_request) -> tuple[str, dict]:
        import time
        import urllib.error
        import urllib.request

        last: Exception | None = None
        for attempt in range(self.retries):
            try:
                with urllib.request.urlopen(
                    make_request(), timeout=self.timeout
                ) as r:
                    return r.read().decode("utf-8"), dict(r.headers)
            except urllib.error.HTTPError as e:
                if e.code >= 500 and attempt < self.retries - 1:
                    last = e
                    time.sleep(self.backoff * (2**attempt))
                    continue
                raise
            except (urllib.error.URLError, TimeoutError, OSError) as e:
                last = e
                if attempt < self.retries - 1:
                    time.sleep(self.backoff * (2**attempt))
        raise last  # type: ignore[misc]

    def get(self, url: str) -> tuple[str, dict]:
        import urllib.request

        return self._call(lambda: urllib.request.Request(url))

    def post(
        self, url: str, data: dict | None = None, json: dict | None = None
    ) -> tuple[str, dict]:
        import json as jsonlib
        import urllib.parse
        import urllib.request

        if json is not None:
            body = jsonlib.dumps(json).encode("utf-8")
            ctype = "application/json"
        else:
            body = urllib.parse.urlencode(data or {}).encode("utf-8")
            ctype = "application/x-www-form-urlencoded"

        return self._call(
            lambda: urllib.request.Request(
                url, data=body, headers={"Content-Type": ctype}, method="POST"
            )
        )


class PseEdgeClient:
    """Driver-side HTTP connector against the public PSE Edge endpoints
    (the reference's extractor surface, pse_edge.py:70-261).

    All response EXTRACTION is pure and lives in pse_edge_parse.py; the
    transport is injected (`transport=`), so the full
    request→parse→normalize path of all three methods runs hermetically
    against recorded responses — including the reference's own golden
    values (JFC company_id=86 / security_id=158; 2022-03-01 OHLC
    241.4/245/240/240; reference tests/integration/test_pse_edge.py:
    38-46, 60-75). The default transport is live `UrllibTransport`."""

    COMPANY_SEARCH_URL = "https://edge.pse.com.ph/companyDirectory/search.ax"
    AUTOCOMPLETE_URL = (
        "https://edge.pse.com.ph/autoComplete/searchCompanyNameSymbol.ax?term={}"
    )
    STOCK_DATA_URL = "https://edge.pse.com.ph/common/DisclosureCht.ax"
    SEARCH_PAYLOAD = {
        "pageNo": "",
        "companyId": "",
        "keyword": "",
        "sortType": "",
        "dateSortType": "DESC",
        "cmpySortType": "DESC",
        "symbolSortType": "ASC",
        "sector": "ALL",
        "subsector": "ALL",
    }

    def __init__(self, transport=None) -> None:
        self.transport = UrllibTransport() if transport is None else transport

    def _search_page(self, **payload) -> tuple[str, str]:
        text, headers = self.transport.post(
            self.COMPANY_SEARCH_URL, data={**self.SEARCH_PAYLOAD, **payload}
        )
        return text, headers.get("Date", "")

    def get_listed_companies(self) -> pd.DataFrame:
        """S1: paginated company-directory scan → COMPANY_COLUMNS frame
        (reference pse_edge.py:80-118: first page discovers the page
        count from the pager anchors, then every page's table parses)."""
        from .pse_edge_parse import normalize_companies, parse_directory_page

        html, retrieved_at = self._search_page(pageNo=1)
        rows, page_count = parse_directory_page(html)
        for page in range(2, page_count + 1):
            page_html, _ = self._search_page(pageNo=page)
            rows.extend(parse_directory_page(page_html)[0])
        return normalize_companies(rows, retrieved_at)

    def get_company_info(self, symbol: str) -> dict:
        """S2: company point lookup (reference pse_edge.py:120-178):
        autocomplete exact-match → company_id, then the metadata table →
        security_id / sector / subsector / listing date."""
        from .pse_edge_parse import filter_autocomplete, parse_company_info_page

        text, _ = self.transport.get(self.AUTOCOMPLETE_URL.format(symbol))
        hit = filter_autocomplete(text, symbol)
        if hit is None:
            raise UnknownSymbolError(f"Symbol {symbol!r} was not found in PSE Edge.")
        html, _ = self._search_page(
            companyId=hit["company_id"], keyword=hit["company_id"], sortType="cmpy"
        )
        return parse_company_info_page(
            html, symbol, hit["company_name"], hit["company_id"]
        )

    def get_stock_data(self, symbol: str, start: date, end: date) -> pd.DataFrame:
        """S3: daily OHLC history for [start, end] → PRICE_COLUMNS frame
        (reference pse_edge.py:182-261: chartData JSON, empty
        short-circuit, max-close dedup)."""
        from .pse_edge_parse import parse_chart_data, trim_to_window

        info = self.get_company_info(symbol)
        text, headers = self.transport.post(
            self.STOCK_DATA_URL,
            json={
                "cmpy_id": info["company_id"],
                "security_id": info["security_id"],
                "startDate": pd.Timestamp(start).strftime("%m-%d-%Y"),
                "endDate": pd.Timestamp(end).strftime("%m-%d-%Y"),
            },
        )
        parsed = parse_chart_data(text, symbol, headers.get("Date", ""))
        return trim_to_window(parsed, start, end)


class FakePseEdge:
    """Deterministic offline stand-in for PseEdgeClient.

    Every value derives from md5(symbol, field, date) — stable across
    runs, processes, and executors, so distributed fetches are
    reproducible and sync replays are exactly idempotent (T4).
    """

    SECTORS = ["Industrial", "Financials", "Property", "Holding Firms", "Services"]
    # The listed symbols when none are given.
    SYMBOLS = ("JFC", "SM", "ALI", "BDO", "TEL", "URC", "MER", "AC")

    def __init__(
        self,
        symbols: list[str] | None = None,
        extracted_at: str = "2024-01-02 00:00:00",
        history_start: str = "2024-01-01",
    ):
        self.symbols = symbols or list(self.SYMBOLS)
        self.extracted_at = pd.Timestamp(extracted_at)
        # Earliest date the fake exchange has data for — like the real
        # API, requests further back return nothing (keeps epoch-default
        # backfills cheap).
        self.history_start = date.fromisoformat(history_start)

    @staticmethod
    def _h(seed: str) -> int:
        return int(hashlib.md5(seed.encode()).hexdigest()[:12], 16)

    def get_listed_companies(self) -> pd.DataFrame:
        rows = []
        for s in self.symbols:
            h = self._h(f"co:{s}")
            rows.append(
                {
                    "symbol": s,
                    "company_name": f"{s} Corporation",
                    "sector": self.SECTORS[h % len(self.SECTORS)],
                    "subsector": f"Subsector {(h >> 8) % 7}",
                    "listing_date": date(1990 + h % 30, 1 + (h >> 4) % 12, 1 + (h >> 8) % 28),
                    "extracted_at": self.extracted_at,
                }
            )
        return pd.DataFrame(rows, columns=COMPANY_COLUMNS)

    def get_company_info(self, symbol: str) -> dict:
        df = self.get_listed_companies()
        row = df[df.symbol == symbol].iloc[0]
        return {**row.to_dict(), "company_id": self._h(f"id:{symbol}") % 1000}

    def get_stock_data(self, symbol: str, start: date, end: date) -> pd.DataFrame:
        rows = []
        d = max(start, self.history_start)
        while d <= end:
            if d.weekday() < 5:  # trading days only
                base = 50 + self._h(f"px:{symbol}:{d.isoformat()}") % 45000 / 100.0
                spread = (self._h(f"sp:{symbol}:{d.isoformat()}") % 500) / 100.0
                o = round(base, 2)
                c = round(base + ((self._h(f"cl:{symbol}:{d}") % 200) - 100) / 100.0, 2)
                rows.append(
                    {
                        "symbol": symbol,
                        "date": d,
                        "open": o,
                        "high": round(max(o, c) + spread, 2),
                        "low": round(max(0.01, min(o, c) - spread), 2),
                        "close": c,
                        "extracted_at": self.extracted_at,
                    }
                )
            d += timedelta(days=1)
        return pd.DataFrame(rows, columns=PRICE_COLUMNS)


def distributed_fetch(
    windows_df: DataFrame,
    fetch_fn: Callable[[str, date, date], pd.DataFrame],
) -> DataFrame:
    """T5 re-architected: executor-side fetch over the pending-window plan.

    `windows_df` is the output of operators.watermark.incremental_windows
    (one row per `symbol` needing data, with its `target_start` and
    `target_end`). Repartition by symbol → each task fetches its
    symbols' windows via `fetch_fn` and yields Arrow batches in the fact
    schema. Replaces the reference's driver thread pool
    (multithreading.py:62-66) with Spark's own task scheduling.
    """

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                got = fetch_fn(row.symbol, row.target_start, row.target_end)
                if got is not None and len(got):
                    out.append(got)
            yield (
                pd.concat(out, ignore_index=True)
                if out
                else pd.DataFrame(columns=PRICE_COLUMNS)
            )

    n = max(windows_df.sparkSession.sparkContext.defaultParallelism, 1)
    return (
        windows_df.repartition(n, "symbol")
        .mapInPandas(fetch_partition, schema=DAILY_STOCK_PRICE_SCHEMA)
    )
