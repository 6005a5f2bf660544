"""Every events-only registry query, Spark vs DuckDB, on a
feed containing NULL event_type / value / props / user_id rows — the
exact divergence class the r4 ADVICE found (Spark collect_set drops
NULLs, DuckDB list(DISTINCT) counts them), swept mechanically instead
of patched query-by-query. Event TIME stays non-null: ts is the clock
column and the ingest contract (data_expectations_check) validates it;
every other column is fair game for a NULL.

Mechanically selected: every query whose oracle references events and
no other table — new event queries join the matrix automatically."""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pse_stocks_etl_spark import plans
from pse_stocks_etl_spark.schemas import TESTDATA_TABLES
from pse_stocks_etl_spark.testing import compare_overlapped


def _events_only_queries():
    out = []
    for name, q in plans.REGISTRY.items():
        if q.oracle is None:
            continue
        used = {t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", q.oracle)}
        if used == {"events"}:
            out.append((name, q))
    return out

EVENTS_ONLY = _events_only_queries()

BASE = dt.datetime(2024, 1, 1)


def _rows():
    """A small feed exercising every NULL-able column plus enough
    normal traffic for windows/funnels/joins to produce rows."""
    rows = []
    eid = 0

    def add(user, etype, value, props, hours):
        nonlocal eid
        eid += 1
        rows.append((eid, BASE + dt.timedelta(hours=hours), user, etype, value, props))

    for u in (1, 2, 3):
        for h in range(0, 40, 3):
            add(u, "click" if h % 2 == 0 else "view", float(u * h % 7) + 0.25, '{"a": 1}', h)
        add(u, "purchase", 9.5, '{"a": 2}', u * 5 + 2)
    # the NULL rows
    add(1, None, 1.0, '{"a": 3}', 8)        # NULL event_type
    add(2, "click", None, '{"a": 4}', 9)    # NULL value
    add(3, "view", 2.0, None, 10)           # NULL props
    add(None, "click", 3.0, '{"a": 5}', 11) # NULL user_id
    add(None, None, None, None, 12)         # everything NULL at once
    # hostile props: the JSON lane must degrade to NULL identically on
    # both engines for every bad-input class a regenerated feed can
    # contain (malformed JSON kills DuckDB's json_extract_string; a
    # non-integer $.k kills a plain CAST under Spark's default ANSI
    # mode — both were latent until these rows)
    add(1, "click", 1.0, '{"k": 7}', 13)          # present integer k
    add(2, "view", 1.0, '{"k": "x"}', 14)         # non-numeric k
    add(3, "click", 1.0, "not json", 15)          # malformed JSON
    add(1, "view", 1.0, '{"k": null}', 16)        # JSON null k
    add(2, "click", 1.0, '{"k": {"n": 1}}', 17)   # nested object k
    # NULL event-time: windowing/ordering/watermark paths must bucket
    # or drop it identically on both engines
    rows.append((eid + 1, None, 1, "click", 1.0, '{"a": 6}'))
    return rows


@pytest.fixture(scope="module")
def null_events(tmp_path_factory):
    path = tmp_path_factory.mktemp("nullevents")
    rows = _rows()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        str(path / "events.parquet"),
    )
    return str(path)


@pytest.fixture(scope="module")
def duck(null_events):
    from conftest import capped_duck

    con = capped_duck()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{null_events}/events.parquet'")
    return con


def test_matrix_is_nontrivial():
    assert len(EVENTS_ONLY) >= 50, [n for n, _ in EVENTS_ONLY]


@pytest.mark.parametrize("name,q", EVENTS_ONLY, ids=[n for n, _ in EVENTS_ONLY])
def test_null_events_parity(spark, duck, null_events, name, q):
    # r13: the whole Spark side and the Duck oracle overlap on two threads
    problems = compare_overlapped(lambda: q.fn(spark, null_events), duck, q.oracle)
    assert not problems, (name, problems)
