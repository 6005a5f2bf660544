"""Pure parsing layer for the PSE Edge connector (SURVEY.md §2.1 S1–S3).

These are string → data functions with no I/O, so the extraction logic
the reference implements inline with bs4/pd.read_html over live HTTP
responses (reference src/utils/pse_edge.py:80-118 directory+pager,
:136-178 autocomplete+info table, :206-261 chartData mapping) runs
hermetically here against recorded HTML/JSON fixtures. The HTML walk
uses only the stdlib ``html.parser`` (bs4/lxml are not in this image).

Semantics notes vs the reference:
- The reference escapes apostrophes in company names (pse_edge.py:115)
  because it renders SQL literals downstream; this engine never renders
  SQL literals (SURVEY.md §2.8 F4 — parameterized/DataFrame everywhere),
  so names are kept verbatim.
- The reference dedups price rows with pandas idxmax (first max close
  per (date, symbol) — input-order-dependent). The parse keeps that
  exact call for parity at the connector edge; the engine's distributed
  dedup (operators/dedup.py argmax_dedup) applies the deterministic
  total order once data enters the query path.
"""

from __future__ import annotations

import json
from datetime import date
from html.parser import HTMLParser

import pandas as pd

from ..schemas import COMPANY_COLUMNS, PRICE_COLUMNS

# Column headers of the PSE Edge company-directory results table, in
# page order (reference pse_edge.py:103-110 renames exactly these).
_DIRECTORY_HEADERS = [
    "Company Name",
    "Stock Symbol",
    "Sector",
    "Subsector",
    "Listing Date",
]


class _PageParser(HTMLParser):
    """One-pass HTML walk collecting (a) every <table> as rows of cells
    (text + the onclick attribute of any element inside the cell) and
    (b) the pager: <a href="#"> anchors with digit-only text."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[dict]]] = []
        self.pager_numbers: list[int] = []
        self._table_stack: list[list[list[dict]]] = []
        self._row: list[dict] | None = None
        self._cell: dict | None = None
        self._anchor_is_pager = False
        self._anchor_text: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "table":
            self._table_stack.append([])
        elif tag == "tr" and self._table_stack:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = {"text": [], "onclick": None}
        elif self._cell is not None and a.get("onclick"):
            self._cell["onclick"] = a["onclick"]
        if tag == "a" and a.get("href") == "#":
            self._anchor_is_pager = True
            self._anchor_text = []

    def handle_endtag(self, tag):
        if tag == "table" and self._table_stack:
            self.tables.append(self._table_stack.pop())
        elif tag == "tr" and self._row is not None:
            if self._table_stack:
                self._table_stack[-1].append(self._row)
            self._row = None
        elif tag in ("td", "th") and self._cell is not None and self._row is not None:
            self._cell["text"] = " ".join("".join(self._cell["text"]).split())
            self._row.append(self._cell)
            self._cell = None
        elif tag == "a" and self._anchor_is_pager:
            text = "".join(self._anchor_text).strip()
            if text.isdigit():
                self.pager_numbers.append(int(text))
            self._anchor_is_pager = False

    def handle_data(self, data):
        if self._cell is not None:
            self._cell["text"].append(data)
        if self._anchor_is_pager:
            self._anchor_text.append(data)


def parse_page(html: str) -> _PageParser:
    p = _PageParser()
    p.feed(html)
    return p


def parse_directory_page(html: str) -> tuple[list[dict], int]:
    """S1 page parse (reference pse_edge.py:90-97): the results table →
    one dict per company row, plus the pager's max page number (1 when
    the page has no numeric pager anchors)."""
    p = parse_page(html)
    rows: list[dict] = []
    for table in p.tables:
        if not table:
            continue
        header = [c["text"] for c in table[0]]
        if header[: len(_DIRECTORY_HEADERS)] != _DIRECTORY_HEADERS:
            continue
        for r in table[1:]:
            if len(r) < len(_DIRECTORY_HEADERS):
                continue
            rows.append(
                {
                    "company_name": r[0]["text"],
                    "symbol": r[1]["text"],
                    "sector": r[2]["text"],
                    "subsector": r[3]["text"],
                    "listing_date": r[4]["text"],
                }
            )
        break
    page_count = max(p.pager_numbers) if p.pager_numbers else 1
    return rows, page_count


def normalize_companies(rows: list[dict], retrieved_at: str) -> pd.DataFrame:
    """S1 output shaping (reference pse_edge.py:102-117): typed
    COMPANY_COLUMNS frame. Dates parse like the reference
    (pd.to_datetime, utc) but stay typed — the engine's schemas are
    date/timestamp, not strings."""
    if not rows:
        return pd.DataFrame(columns=COMPANY_COLUMNS)
    df = pd.DataFrame(rows)
    df["listing_date"] = pd.to_datetime(df["listing_date"], utc=True).dt.date
    df["extracted_at"] = pd.to_datetime(retrieved_at, utc=True).tz_localize(None)
    return df[COMPANY_COLUMNS]


def filter_autocomplete(json_text: str, symbol: str) -> dict | None:
    """S2 step 1 (reference pse_edge.py:136-144): the autocomplete
    endpoint returns fuzzy matches; keep the EXACT symbol match only.
    Returns {'company_id': str, 'company_name': str} or None."""
    results = [x for x in json.loads(json_text) if x.get("symbol") == symbol]
    if not results:
        return None
    hit = results[0]
    return {"company_id": str(hit["cmpyId"]), "company_name": hit["cmpyNm"]}


def parse_company_info_page(html: str, symbol: str, company_name: str, company_id: str) -> dict:
    """S2 step 2 (reference pse_edge.py:156-178): the company metadata
    table. security_id comes from the first cell's
    ``onclick="cmDetail('<company_id>','<security_id>');return false;"``;
    sector / subsector / listing date are the 3rd/4th/5th cells."""
    p = parse_page(html)
    cells = [c for table in p.tables for row in table for c in row]
    if len(cells) < 5 or not cells[0]["onclick"]:
        raise ValueError(f"company info page for {symbol!r} has no metadata table")
    onclick = cells[0]["onclick"]
    inner = onclick.replace("cmDetail(", "").replace(");return false;", "").replace("'", "")
    _, security_id = inner.split(",")
    return {
        "symbol": symbol,
        "company_name": company_name,
        "company_id": company_id,
        "security_id": security_id.strip(),
        "sector": cells[2]["text"],
        "subsector": cells[3]["text"],
        "listing_date": pd.to_datetime(cells[4]["text"], utc=True).strftime("%Y-%m-%d"),
    }


def parse_chart_data(json_text: str, symbol: str, extracted_at: str) -> pd.DataFrame:
    """S3 (reference pse_edge.py:234-261): chartData JSON → typed
    PRICE_COLUMNS frame; empty chartData short-circuits to the empty
    frame (the reference's EMPTY_PRICES_DF, :204). Duplicate
    (date, symbol) rows keep the max-close row via the reference's own
    idxmax rule (:259)."""
    chart_data = json.loads(json_text)["chartData"]
    if not chart_data:
        return pd.DataFrame(columns=PRICE_COLUMNS)
    df = pd.DataFrame(chart_data)
    df["symbol"] = symbol
    df["date"] = pd.to_datetime(df["CHART_DATE"], utc=True, format="mixed").dt.date
    df = df.rename(columns={"OPEN": "open", "HIGH": "high", "LOW": "low", "CLOSE": "close"})
    for c in ("open", "high", "low", "close"):
        df[c] = df[c].astype("float64")
    df["extracted_at"] = pd.to_datetime(extracted_at, utc=True).tz_localize(None)
    df = df.loc[df.groupby(["date", "symbol"])["close"].idxmax()]
    return df[PRICE_COLUMNS].reset_index(drop=True)


def trim_to_window(df: pd.DataFrame, start: date | None, end: date | None) -> pd.DataFrame:
    """Clamp a parsed price frame to [start, end] (the reference sends
    the window to the server; recorded fixtures may cover more)."""
    out = df
    if start is not None:
        out = out[out["date"] >= start]
    if end is not None:
        out = out[out["date"] <= end]
    return out.reset_index(drop=True)
