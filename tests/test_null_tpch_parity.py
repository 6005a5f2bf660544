"""Third NULL-robustness matrix: every oracle-backed query NOT covered
by the docs/events matrices runs on an sf0.001 clone whose TPC-H
tables carry injected NULL attribute rows — NULL o_orderpriority /
o_totalprice, l_returnflag / l_quantity / l_discount / l_shipdate,
c_mktsegment / c_acctbal, p_brand / p_size / p_type, s_acctbal. Key
columns stay non-null (TPC-H declares them NOT NULL; FK integrity is
the ingest contract) — it is the ATTRIBUTE columns a regenerated
dataset could null out, and those are what groupBys, conditional
aggregates, and predicates consume.

Mechanical complement selection: a future query joins exactly one of
the three matrices, with no overlap and no gaps
(test_matrices_partition_the_registry)."""

from __future__ import annotations

import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pse_stocks_etl_spark import plans
from pse_stocks_etl_spark.schemas import TESTDATA_TABLES

from conftest import SF_DIR


def _tables_used(q):
    return {t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", q.oracle)}


def _matrix_queries():
    out = []
    for name, q in plans.REGISTRY.items():
        if q.oracle is None:
            continue
        used = _tables_used(q)
        if used not in ({"documents"}, {"events"}):
            out.append((name, q))
    return out

MATRIX = _matrix_queries()

# (table, {column: null-able value factory}) — one extra row per table
# with every listed attribute NULL and plausible values elsewhere.
_NULL_ROWS = {
    "orders": {
        "o_orderkey": 9_900_001,
        "o_custkey": 1,
        "o_orderstatus": None,
        "o_totalprice": None,
        "o_orderdate": None,
        "o_orderpriority": None,
    },
    "lineitem": {
        "l_orderkey": 9_900_001,
        "l_partkey": 1,
        "l_suppkey": 1,
        "l_linenumber": 1,
        "l_quantity": None,
        "l_extendedprice": None,
        "l_discount": None,
        "l_tax": None,
        "l_returnflag": None,
        "l_linestatus": None,
        "l_shipdate": None,
    },
    "customer": {
        "c_custkey": 9_900_001,
        "c_name": None,
        "c_nationkey": 0,
        "c_acctbal": None,
        "c_mktsegment": None,
    },
    "part": {
        "p_partkey": 9_900_001,
        "p_name": None,
        "p_brand": None,
        "p_type": None,
        "p_size": None,
        "p_retailprice": None,
    },
    "supplier": {
        "s_suppkey": 9_900_001,
        "s_name": None,
        "s_nationkey": 0,
        "s_acctbal": None,
    },
    # events was previously cloned UNMODIFIED here, so multi-table
    # queries reading it (attribution, funnels, concurrency, as-of)
    # never saw a hostile events row in ANY matrix — the same
    # NULL-event-time luck class the events matrix caught intermittently
    "events": {
        "event_id": 9_900_001,
        "ts": None,
        "user_id": 1,
        "event_type": None,
        "value": None,
        "props": None,
    },
}


@pytest.fixture(scope="module")
def null_sf(tmp_path_factory):
    path = tmp_path_factory.mktemp("nulltpch")
    for t in TESTDATA_TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = str(path / f"{t}.parquet")
        if t in _NULL_ROWS:
            base = pq.read_table(src)
            extra = pa.table(
                {
                    f.name: pa.array([_NULL_ROWS[t].get(f.name)], f.type)
                    for f in base.schema
                },
                schema=base.schema,
            )
            pq.write_table(pa.concat_tables([base, extra]), dst)
        else:
            os.symlink(src, dst)
    return str(path)


@pytest.fixture(scope="module")
def duck(null_sf):
    from conftest import capped_duck

    con = capped_duck()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{null_sf}/{t}.parquet'")
    return con


def test_matrices_partition_the_registry():
    """docs-only + events-only + this matrix = every oracle query,
    exactly once."""
    all_named = set()
    for name, q in plans.REGISTRY.items():
        if q.oracle is not None:
            all_named.add(name)
    docs = {n for n, q in plans.REGISTRY.items()
            if q.oracle and _tables_used(q) == {"documents"}}
    events = {n for n, q in plans.REGISTRY.items()
              if q.oracle and _tables_used(q) == {"events"}}
    here = {n for n, _ in MATRIX}
    assert docs | events | here == all_named
    assert not (docs & events) and not (docs & here) and not (events & here)


@pytest.mark.parametrize("name,q", MATRIX, ids=[n for n, _ in MATRIX])
def test_null_tpch_parity(spark, duck, null_sf, name, q):
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches
    from pse_stocks_etl_spark.testing import compare_overlapped

    clear_working_set_caches()
    # r13: the whole Spark side and the Duck oracle overlap on two threads
    problems = compare_overlapped(lambda: q.fn(spark, null_sf), duck, q.oracle)
    assert not problems, (name, problems)
