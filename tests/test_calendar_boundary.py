"""Calendar-arithmetic boundary: where Spark and the DuckDB oracle
agree on date math, and the day-of-week numbering divergence — PINNED
(third companion of the unicode and IEEE-specials probes).

Probed empirically (2026-08, Spark 4.1.2 / bundled DuckDB):

AGREE (asserted below): month-interval addition CLAMPS to month end on
both engines (Jan 31 + 1 month = Feb 29 in a leap year; Feb 29 + 12
months = Feb 28), last_day, date_trunc('week') starts Monday on both,
and weekofyear is ISO on both (2021-01-01 is week 53).

DIVERGE (pinned verbatim): day-of-week NUMBERING — Spark's
dayofweek()/extract(DOW) is Sunday=1..Saturday=7, DuckDB's
dow/extract(dow) is Sunday=0..Saturday=6 (its isodow is ISO
Monday=1..Sunday=7, which Spark doesn't expose at all). Engine
stance: plans never compare raw day-of-week numbers across engines —
week arithmetic uses the bridge `date_sub(d, (dayofweek(d)+5) % 7)`
(Spark) vs `date_trunc('week', d)` / `isodow` (oracle), both ISO-
Monday-anchored; the bridge identity is asserted below for all seven
weekdays.
"""

from __future__ import annotations

import datetime

import pytest


@pytest.fixture(scope="module")
def duck():
    from conftest import capped_duck

    return capped_duck()


AGREE_SQL = [
    # month-add clamping, leap handling, last_day, Monday week, ISO week
    "SELECT CAST(DATE '2024-01-31' + INTERVAL 1 MONTH AS DATE)",
    "SELECT CAST(DATE '2024-02-29' + INTERVAL 12 MONTH AS DATE)",
    "SELECT last_day(DATE '2024-02-10')",
    "SELECT CAST(date_trunc('week', DATE '2024-03-10') AS DATE)",  # a Sunday
    "SELECT CAST(weekofyear(DATE '2021-01-01') AS BIGINT)",
]
AGREE_EXPECT = [
    datetime.date(2024, 2, 29),
    datetime.date(2025, 2, 28),
    datetime.date(2024, 2, 29),
    datetime.date(2024, 3, 4),  # the preceding Monday, both engines
    53,
]


@pytest.mark.parametrize("sql,expect", zip(AGREE_SQL, AGREE_EXPECT), ids=AGREE_SQL)
def test_date_arithmetic_agrees(spark, duck, sql, expect):
    assert spark.sql(sql).collect()[0][0] == expect
    assert duck.sql(sql).fetchone()[0] == expect


def test_day_of_week_numbering_diverges_exactly_as_documented(spark, duck):
    d = "DATE '2024-03-10'"  # a Sunday
    assert spark.sql(f"SELECT dayofweek({d})").collect()[0][0] == 1  # Sun=1
    assert duck.sql(f"SELECT extract(dow FROM {d})").fetchone()[0] == 0  # Sun=0
    assert duck.sql(f"SELECT isodow({d})").fetchone()[0] == 7  # ISO Sun=7


def test_week_anchor_bridge_is_iso_monday_on_both(spark, duck):
    """The plans' `(dayofweek(d)+5) % 7` offset (round13 weekly
    rollups) and the oracles' date_trunc('week')/isodow must anchor
    the SAME Monday for every weekday."""
    for day in range(4, 11):  # 2024-03-04 (Mon) .. 2024-03-10 (Sun)
        d = f"DATE '2024-03-{day:02d}'"
        sp = spark.sql(
            f"SELECT date_sub({d}, (dayofweek({d}) + 5) % 7)"
        ).collect()[0][0]
        dk = duck.sql(
            f"SELECT CAST(date_trunc('week', {d}) AS DATE)"
        ).fetchone()[0]
        assert sp == dk == datetime.date(2024, 3, 4), day


def test_no_oracle_uses_ambiguous_dow():
    """Oracles may use isodow (ISO, unambiguous) but never bare
    dow/dayofweek, whose numbering differs between the engines."""
    import re

    from pse_stocks_etl_spark import plans

    bad = re.compile(r"(?<!iso)\bdow\b|dayofweek", re.I)
    offenders = [
        name
        for name, q in plans.REGISTRY.items()
        if q.oracle and bad.search(q.oracle)
    ]
    assert not offenders, offenders
