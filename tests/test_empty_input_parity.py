"""Fourth hostility matrix: EVERY oracle-backed registry query on a
dataset where every table has ZERO rows but the full schema. Empty
input is classic engine-divergence territory — global aggregates emit
one NULL-ish row vs none, SUM over empty is NULL where
COUNT(*)-COUNT(col) is 0 (the table_profile find that seeded this
matrix), windows and streaming watermarks never fire — and it is
exactly what a pipeline sees on day one, on an empty partition, or
after an aggressive filter. Selection is the whole oracle registry,
so every new query joins automatically."""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

from pse_stocks_etl_spark import plans
from pse_stocks_etl_spark.schemas import TESTDATA_TABLES
from pse_stocks_etl_spark.testing import compare_overlapped

from conftest import SF_DIR

ALL = sorted(
    (name, q) for name, q in plans.REGISTRY.items() if q.oracle is not None
)


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    path = tmp_path_factory.mktemp("emptysf")
    for t in TESTDATA_TABLES:
        tb = pq.read_table(os.path.join(SF_DIR, f"{t}.parquet"))
        pq.write_table(tb.slice(0, 0), str(path / f"{t}.parquet"))
    return str(path)


@pytest.fixture(scope="module")
def duck(empty_sf):
    from conftest import capped_duck

    con = capped_duck()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{empty_sf}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name,q", ALL, ids=[n for n, _ in ALL])
def test_empty_input_parity(spark, duck, empty_sf, name, q):
    # r13: the whole Spark side and the Duck oracle overlap on two threads
    problems = compare_overlapped(lambda: q.fn(spark, empty_sf), duck, q.oracle)
    assert not problems, (name, problems)
