"""Round-11 semantics beyond oracle parity: pure-python models and hand
fixtures for the TPC-H Q2/Q12/Q20 analogs and the incremental SimHash
screen. Each model re-derives the answer with a different algorithm
than both the Spark plan AND the DuckDB oracle, so a shared misreading
of the spec cannot pass. The SimHash fixture additionally pins the one
semantic parity cannot see from clean data: new-vs-new duplicates must
NOT count (the shard never self-joins)."""

from __future__ import annotations

import datetime as dt
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pse_stocks_etl_spark.plans.round11_queries import (
    Q12_FAST_DAYS,
    Q12_MED_DAYS,
    _HIGH_PRI,
    delay_band_priority_counts,
    dominant_part_suppliers,
    min_cost_regional_supplier,
)
from pse_stocks_etl_spark.plans import REGISTRY

_HYP = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# suppliers 1,2 sit in EUROPE (the Q2 region), 3,4 in ASIA (the Q20
# region); parts 1,2 are 'small…' and inside the Q2 size band, part 3
# is neither.
_EU_SUPP = {1, 2}
_ASIA_SUPP = {3, 4}
_SMALL_PARTS = {1, 2}
_SUPP_NAME = {k: f"S{k}" for k in (1, 2, 3, 4)}
_SUPP_NATION = {1: "EU_N", 2: "EU_N", 3: "AS_N", 4: "AS_N"}
_PART_BRAND = {1: "B1", 2: "B2", 3: "B3"}


def _write_tpch(path, lineitems, orders=None):
    """lineitems: [(orderkey, partkey, suppkey, qty, price, ship_dt)];
    orders: [(orderkey, order_dt, priority)] (defaulted if omitted)."""
    n = len(lineitems)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([li[0] for li in lineitems], pa.int64()),
                "l_partkey": pa.array([li[1] for li in lineitems], pa.int64()),
                "l_suppkey": pa.array([li[2] for li in lineitems], pa.int64()),
                "l_linenumber": pa.array(range(1, n + 1), pa.int32()),
                "l_quantity": pa.array([float(li[3]) for li in lineitems], pa.float64()),
                "l_extendedprice": pa.array(
                    [float(li[4]) for li in lineitems], pa.float64()
                ),
                "l_discount": pa.array([0.0] * n, pa.float64()),
                "l_tax": pa.array([0.0] * n, pa.float64()),
                "l_returnflag": pa.array(["N"] * n, pa.string()),
                "l_linestatus": pa.array(["O"] * n, pa.string()),
                "l_shipdate": pa.array([li[5] for li in lineitems], pa.timestamp("us")),
            }
        ),
        str(path / "lineitem.parquet"),
    )
    orders = orders or [(1, dt.datetime(1997, 2, 1), "3-MEDIUM")]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_custkey": pa.array([1] * len(orders), pa.int64()),
                "o_orderstatus": pa.array(["O"] * len(orders), pa.string()),
                "o_totalprice": pa.array([1.0] * len(orders), pa.float64()),
                "o_orderdate": pa.array([o[1] for o in orders], pa.timestamp("us")),
                "o_orderpriority": pa.array([o[2] for o in orders], pa.string()),
            }
        ),
        str(path / "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([1, 2, 3], pa.int64()),
                "p_name": pa.array(
                    ["small gadget", "small bolt", "red gear"], pa.string()
                ),
                "p_brand": pa.array(["B1", "B2", "B3"], pa.string()),
                "p_type": pa.array(["t"] * 3, pa.string()),
                "p_size": pa.array([15, 12, 40], pa.int32()),
                "p_retailprice": pa.array([1.0] * 3, pa.float64()),
            }
        ),
        str(path / "part.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([1, 2, 3, 4], pa.int64()),
                "s_name": pa.array(["S1", "S2", "S3", "S4"], pa.string()),
                "s_nationkey": pa.array([0, 0, 1, 1], pa.int32()),
                "s_acctbal": pa.array([10.0, 20.0, 30.0, 40.0], pa.float64()),
            }
        ),
        str(path / "supplier.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1], pa.int32()),
                "n_name": pa.array(["EU_N", "AS_N"], pa.string()),
                "n_regionkey": pa.array([0, 1], pa.int32()),
            }
        ),
        str(path / "nation.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1], pa.int32()),
                "r_name": pa.array(["EUROPE", "ASIA"], pa.string()),
            }
        ),
        str(path / "region.parquet"),
    )
    return str(path)


_SHIP = dt.datetime(1997, 3, 1)  # inside both query windows


# ----------------------------------------------------- Q2 min-cost --
@given(
    obs=st.lists(
        st.tuples(
            st.integers(1, 3),  # partkey
            st.integers(1, 4),  # suppkey
            st.integers(1, 99),  # whole-dollar price
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_HYP)
def test_q2_returns_every_min_cost_eu_supplier(spark, tmp_path_factory, obs):
    """Dict model: min cents per (part, supp), then part minimum over
    EU suppliers only; ALL tied suppliers must surface; parts outside
    the size band (part 3) and non-EU suppliers never appear."""
    lis = [(1, pk, sk, 1, price, _SHIP) for pk, sk, price in obs]
    d = _write_tpch(tmp_path_factory.mktemp("q2"), lis)
    got = {
        (r.p_partkey, r.p_brand, r.s_name, r.n_name, r.s_acctbal_cents, r.cost_cents)
        for r in min_cost_regional_supplier(spark, d).collect()
    }
    pair_min: dict = {}
    for pk, sk, price in obs:
        if sk in _EU_SUPP:
            key = (pk, sk)
            pair_min[key] = min(pair_min.get(key, 10**9), price * 100)
    part_min: dict = {}
    for (pk, sk), c in pair_min.items():
        part_min[pk] = min(part_min.get(pk, 10**9), c)
    expected = {
        (pk, _PART_BRAND[pk], _SUPP_NAME[sk], _SUPP_NATION[sk], sk * 1000, c)
        for (pk, sk), c in pair_min.items()
        if pk in _SMALL_PARTS and c == part_min[pk]  # parts 1,2 are in-band
    }
    assert got == expected


# ----------------------------------------------- Q12 delay bands --
@given(
    lines=st.lists(
        st.tuples(
            st.integers(0, 4),  # priority index
            st.integers(-5, 120),  # ship delay in days
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_HYP)
def test_q12_band_matrix_matches_counter_model(spark, tmp_path_factory, lines):
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    base = dt.datetime(1996, 6, 1)
    orders = [(i, base, pris[p]) for i, (p, _) in enumerate(lines)]
    lis = [
        (i, 1, 1, 1, 1, base + dt.timedelta(days=delay))
        for i, (_, delay) in enumerate(lines)
    ]
    d = _write_tpch(tmp_path_factory.mktemp("q12"), lis, orders)
    got = {
        r.ship_band: (r.high_line_count, r.low_line_count)
        for r in delay_band_priority_counts(spark, d).collect()
    }
    model: Counter = Counter()
    for p, delay in lines:
        band = (
            "1-FAST"
            if delay <= Q12_FAST_DAYS
            else ("2-MED" if delay <= Q12_MED_DAYS else "3-SLOW")
        )
        model[(band, pris[p] in _HIGH_PRI)] += 1
    expected = {
        band: (model[(band, True)], model[(band, False)])
        for band in {b for b, _ in model}
    }
    assert got == expected


# ------------------------------------------- Q20 dominant supplier --
@given(
    lines=st.lists(
        st.tuples(
            st.integers(1, 3),  # partkey
            st.integers(1, 4),  # suppkey
            st.integers(1, 50),  # quantity
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_HYP)
def test_q20_dominance_matches_dict_model(spark, tmp_path_factory, lines):
    """A supplier appears iff ASIA-based and >half of some small part's
    total volume; EU suppliers' volumes still count toward the totals
    they must dominate."""
    lis = [(1, pk, sk, qty, 1, _SHIP) for pk, sk, qty in lines]
    d = _write_tpch(tmp_path_factory.mktemp("q20"), lis)
    got = {(r.s_name, r.n_name) for r in dominant_part_suppliers(spark, d).collect()}
    per_ps: dict = defaultdict(int)
    per_p: dict = defaultdict(int)
    for pk, sk, qty in lines:
        if pk in _SMALL_PARTS:
            per_ps[(pk, sk)] += qty
            per_p[pk] += qty
    expected = {
        (_SUPP_NAME[sk], _SUPP_NATION[sk])
        for (pk, sk), q in per_ps.items()
        if 2 * q > per_p[pk] and sk in _ASIA_SUPP
    }
    assert got == expected


# ------------------------------------- incremental SimHash screen --
def _write_docs(path, texts):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(texts), pa.int64()),
                "text": pa.array([texts[i] for i in sorted(texts)], pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["t"] * len(texts), pa.string()),
                "n_chars": pa.array(
                    [len(texts[i] or "") for i in sorted(texts)], pa.int64()
                ),
            }
        ),
        str(path / "documents.parquet"),
    )
    return str(path)


def test_incremental_simhash_ignores_new_vs_new_duplicates(spark, tmp_path):
    """doc 1 (new) is a verbatim copy of doc 2 (standing) → Hamming 0,
    flagged with its twin as nearest. docs 5 and 7 (both new) are
    verbatim copies of each other but of NOTHING standing → the shard
    must NOT self-join, so both come back clean. The per-doc verdict
    covers every fingerprinted new doc."""
    body_a = "the quick brown fox jumps over the lazy dog again and again " * 4
    body_b = "completely different legal boilerplate about data retention " * 4
    body_c = "yet another unrelated passage on streaming watermarks hello " * 4
    d = _write_docs(
        tmp_path,
        {
            1: body_a,  # new, dup of standing 2
            2: body_a,  # standing twin
            3: body_c,  # new, unique
            5: body_b,  # new, dup of new 7 only
            7: body_b,  # new, dup of new 5 only
            4: body_c + "with a tail",  # standing noise
        },
    )
    rows = {r.doc_id: r for r in REGISTRY["docs_incremental_simhash"].fn(spark, d).collect()}
    assert set(rows) == {1, 3, 5, 7}
    assert rows[1].is_near_dup and rows[1].nearest_doc == 2
    assert rows[1].min_hamming == 0 and rows[1].n_near_dups >= 1
    assert not rows[5].is_near_dup and rows[5].nearest_doc is None
    assert not rows[7].is_near_dup and rows[7].n_near_dups == 0
