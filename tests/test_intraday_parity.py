"""Fifth hostility matrix: INTRA-DAY timestamps. The generated TPC-H
tables store all o_orderdate / l_shipdate values at midnight, so a
Spark plan that truncates to DATE where its oracle compares full
timestamps (or vice versa) passes parity by data luck — the exact
latent-divergence class ADVICE r5 flagged on late_ship_priority_counts
before it was fixed. This matrix clones sf0.001 with a deterministic
per-row intra-day jitter on every orders/lineitem timestamp and
re-runs every oracle-backed query that reads either table; a
date-vs-timestamp asymmetry anywhere in predicate, bucket, or window
order now diverges instead of hiding until the testdata is
regenerated.

Jitter must be DETERMINISTIC (both engines read the same files) and
key-derived (survives row reordering): +((7·l_orderkey + 13·
l_linenumber) mod 86400) seconds on l_shipdate, +((11·o_orderkey) mod
86400) seconds on o_orderdate."""

from __future__ import annotations

import os
import re

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pse_stocks_etl_spark import plans
from pse_stocks_etl_spark.schemas import TESTDATA_TABLES

from conftest import SF_DIR

_US = 1_000_000


def _tables_used(q):
    return {t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", q.oracle)}


def _matrix_queries():
    out = []
    for name, q in plans.REGISTRY.items():
        if q.oracle is None:
            continue
        if _tables_used(q) & {"orders", "lineitem"}:
            out.append((name, q))
    return out


MATRIX = _matrix_queries()


def _jitter(tbl: pa.Table, ts_col: str, seconds_expr) -> pa.Table:
    """Shift ts_col by a per-row jitter (seconds int64 array), keeping
    nulls null and the arrow type identical."""
    idx = tbl.column_names.index(ts_col)
    ts_type = tbl.schema.field(ts_col).type
    raw = tbl.column(ts_col).cast(pa.int64())
    shifted = pc.add(raw, pc.multiply(seconds_expr, _US))
    return tbl.set_column(idx, ts_col, shifted.cast(ts_type))


@pytest.fixture(scope="module")
def intraday_sf(tmp_path_factory):
    path = tmp_path_factory.mktemp("intraday")
    for t in TESTDATA_TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = str(path / f"{t}.parquet")
        if t == "orders":
            tbl = pq.read_table(src)
            ok = tbl.column("o_orderkey").to_numpy(zero_copy_only=False)
            jit = pa.array((ok * 11) % 86_400, pa.int64())
            pq.write_table(_jitter(tbl, "o_orderdate", jit), dst)
        elif t == "lineitem":
            tbl = pq.read_table(src)
            lk = tbl.column("l_orderkey").to_numpy(zero_copy_only=False)
            ln = tbl.column("l_linenumber").to_numpy(zero_copy_only=False)
            jit = pa.array((lk * 7 + ln * 13) % 86_400, pa.int64())
            pq.write_table(_jitter(tbl, "l_shipdate", jit), dst)
        else:
            os.symlink(src, dst)
    return str(path)


@pytest.fixture(scope="module")
def duck(intraday_sf):
    from conftest import capped_duck

    con = capped_duck()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{intraday_sf}/{t}.parquet'")
    return con


def test_matrix_is_nontrivial(intraday_sf):
    """The jitter really de-midnights the data (else the matrix proves
    nothing): most shipdates must carry a non-zero time of day."""
    con = duckdb.connect()
    n, off = con.sql(
        f"SELECT COUNT(*), COUNT(*) FILTER ("
        f"  WHERE l_shipdate <> date_trunc('day', l_shipdate)) "
        f"FROM '{intraday_sf}/lineitem.parquet' WHERE l_shipdate IS NOT NULL"
    ).fetchone()
    assert off > 0.9 * n
    assert len(MATRIX) > 50


@pytest.mark.parametrize("name,q", MATRIX, ids=[n for n, _ in MATRIX])
def test_intraday_parity(spark, duck, intraday_sf, name, q):
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches
    from pse_stocks_etl_spark.testing import compare_overlapped

    clear_working_set_caches()
    # r13: the whole Spark side and the Duck oracle overlap on two threads
    problems = compare_overlapped(lambda: q.fn(spark, intraday_sf), duck, q.oracle)
    assert not problems, (name, problems)
