"""Sixth hostility matrix: SHUFFLED ROW ORDER. The generated parquet
files are written in key order, so a window/rank/argmax whose ORDER BY
under-determines ties can agree across engines by scan-order luck —
the intermittent `daily_cusum_shift` failure (COVERAGE.md round-6
notes) was exactly this class, caught only because DuckDB happened to
vary its order between connections. This matrix makes the luck run
out deterministically: every table is cloned with rows re-sorted by
md5 of their bytes (a fixed, key-uncorrelated permutation), and every
oracle-backed query whose SQL contains a window function re-runs
against its oracle on the shuffled clone. A plan (or oracle) whose
ordering is not TOTAL now diverges on every run instead of rarely.

Only the window-function subset runs here (selection: `OVER (` in the
oracle) — aggregation-only queries are order-free by construction, and
the full registry already pays four other matrices."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pse_stocks_etl_spark import plans
from pse_stocks_etl_spark.schemas import TESTDATA_TABLES

from conftest import SF_DIR


def _matrix_queries():
    out = []
    for name, q in plans.REGISTRY.items():
        if q.oracle is not None and "OVER (" in q.oracle.upper().replace(
            "OVER(", "OVER ("
        ):
            out.append((name, q))
    return out


MATRIX = _matrix_queries()


def _shuffle(tbl: pa.Table) -> pa.Table:
    """Deterministic key-uncorrelated permutation: sort rows by the md5
    of their concatenated string form. Not fast — fixture-sized only."""
    cols = [c.to_pylist() for c in tbl.columns]
    keys = [
        hashlib.md5(repr([col[i] for col in cols]).encode()).hexdigest()
        for i in range(tbl.num_rows)
    ]
    order = sorted(range(tbl.num_rows), key=lambda i: keys[i])
    return tbl.take(pa.array(order, pa.int64()))


@pytest.fixture(scope="module")
def shuffled_sf(tmp_path_factory):
    path = tmp_path_factory.mktemp("shuffled")
    for t in TESTDATA_TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        pq.write_table(_shuffle(pq.read_table(src)), str(path / f"{t}.parquet"))
    return str(path)


@pytest.fixture(scope="module")
def duck(shuffled_sf):
    from conftest import capped_duck

    con = capped_duck()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{shuffled_sf}/{t}.parquet'")
    return con


def test_matrix_is_nontrivial(shuffled_sf):
    """The permutation really reorders rows, and the matrix has teeth."""
    con = duckdb.connect()
    first = con.sql(
        f"SELECT event_id FROM '{shuffled_sf}/events.parquet' LIMIT 5"
    ).fetchall()
    assert [r[0] for r in first] != [0, 1, 2, 3, 4]
    assert len(MATRIX) > 40


@pytest.mark.parametrize("name,q", MATRIX, ids=[n for n, _ in MATRIX])
def test_shuffled_input_parity(spark, duck, shuffled_sf, name, q):
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches
    from pse_stocks_etl_spark.testing import compare_overlapped

    clear_working_set_caches()
    # r13: the whole Spark side and the Duck oracle overlap on two threads
    problems = compare_overlapped(lambda: q.fn(spark, shuffled_sf), duck, q.oracle)
    assert not problems, (name, problems)
