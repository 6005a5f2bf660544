"""Round-13 semantics beyond oracle parity: the MV incremental refresh
must equal a recompute on RANDOM change batches (the closed-form oracle
only pins one batch shape), the k-hop BFS must agree with a pure-python
BFS on random graphs and a hand-built path graph, and the k-anonymity
banding must handle NULL quasi-identifiers and negative balances the
way the docstring claims. Plan guards pin what the oracle cannot see:
single parquet scan for the MV refresh, zero Python anywhere."""

from __future__ import annotations

import re
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pse_stocks_etl_spark.plans.round13_queries import (
    _K_ANON,
    _KHOP_K,
    _KHOP_SEED_MOD,
    _MV_PRICE_BUMP_CENTS,
    _MV_QTY_BUMP,
)
from pse_stocks_etl_spark.plans import REGISTRY

from conftest import SF_DIR

_HYP = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _plan(spark, name: str, sf_dir: str = SF_DIR) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _write_lineitem(path, rows):
    """rows: [(orderkey, partkey, qty_int, price_cents_int)] — price is
    written as an exact 2-dp double so cents() round-trips bit-exactly."""
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_suppkey": pa.array([1] * n, pa.int64()),
                "l_linenumber": pa.array(range(1, n + 1), pa.int32()),
                "l_quantity": pa.array([float(r[2]) for r in rows], pa.float64()),
                "l_extendedprice": pa.array(
                    [r[3] / 100.0 for r in rows], pa.float64()
                ),
                "l_discount": pa.array([0.0] * n, pa.float64()),
                "l_tax": pa.array([0.0] * n, pa.float64()),
                "l_returnflag": pa.array(["N"] * n, pa.string()),
                "l_linestatus": pa.array(["O"] * n, pa.string()),
                "l_shipdate": pa.array([None] * n, pa.timestamp("us")),
            }
        ),
        str(path / "lineitem.parquet"),
    )


# --------------------------------------------------------------------------
# MV incremental refresh
# --------------------------------------------------------------------------
def test_mv_refresh_plan_single_scan_no_python(spark):
    """The persisted fact rollup means lineitem's parquet is scanned
    exactly once per session; every branch (stale MV, CDF classify,
    delta) reads the cache. No Python, no cartesian anything."""
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches

    clear_working_set_caches()
    plan = _plan(spark, "store_mv_refresh_increment")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    for bad in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert bad not in plan, bad
    clear_working_set_caches()


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # orderkey
            st.integers(min_value=1, max_value=6),  # partkey
            st.integers(min_value=1, max_value=50),  # qty
            st.integers(min_value=0, max_value=10_000_00),  # price cents
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_HYP)
def test_mv_refresh_equals_recompute_model(spark, tmp_path_factory, rows):
    """Incremental refresh == full recompute on RANDOM data: the python
    model applies the same closed-form batch (update orderkey%9==0,
    insert orderkey%3==1) directly to per-(order, part) rollups and
    recomputes the MV from scratch — if the CDF delta algebra dropped a
    preimage or double-counted an insert, sums would diverge."""
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches

    path = tmp_path_factory.mktemp("mv")
    _write_lineitem(path, rows)

    fact = defaultdict(lambda: [0, 0])  # (ok, pk) -> [qty, price_cents]
    for ok, pk, qty, pc in rows:
        fact[(ok, pk)][0] += qty
        fact[(ok, pk)][1] += pc
    expect = defaultdict(lambda: [0, 0, 0])  # pk -> [n, qty, price]
    for (ok, pk), (qty, pc) in fact.items():
        if ok % 3 == 0:
            if ok % 9 == 0:
                qty, pc = qty + _MV_QTY_BUMP, pc + _MV_PRICE_BUMP_CENTS
        elif ok % 3 != 1:
            continue
        g = expect[pk]
        g[0] += 1
        g[1] += qty
        g[2] += pc

    clear_working_set_caches()
    got = {
        r["l_partkey"]: (r["n_facts"], r["sum_qty"], r["sum_price_cents"])
        for r in REGISTRY["store_mv_refresh_increment"].fn(spark, str(path)).collect()
    }
    clear_working_set_caches()
    assert got == {pk: tuple(v) for pk, v in expect.items()}


# --------------------------------------------------------------------------
# k-hop BFS
# --------------------------------------------------------------------------
def test_khop_hand_path_graph(spark, tmp_path_factory):
    """Two seeds on a hand-built path: 97-1-2-3-4 plus a 194-3 shortcut.
    BFS(<=3) gives 97:0 194:0 1:1 3:1 2:2 4:2 — the shortcut must win
    over the longer path (min, not first-visit) and nothing exceeds k."""
    path = tmp_path_factory.mktemp("khop")
    edges = [(97, 1), (1, 2), (2, 3), (3, 4), (194, 3)]
    rows = []
    for i, (a, b) in enumerate(edges):
        rows.append((100 + i, a, 1, 100))
        rows.append((100 + i, b, 1, 100))
    _write_lineitem(path, rows)
    got = {
        r["l_partkey"]: r["dist"]
        for r in REGISTRY["copurchase_khop_distance"].fn(spark, str(path)).collect()
    }
    assert got == {97: 0, 194: 0, 1: 1, 3: 1, 2: 2, 4: 2}


@given(
    baskets=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=300), min_size=1, max_size=5
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**_HYP)
def test_khop_equals_python_bfs_model(spark, tmp_path_factory, baskets):
    """Random basket graphs vs a pure-python multi-source BFS capped at
    k hops. Seeds are partkeys ≡ 0 (mod seed-mod); parts never reaching
    a seed within k hops must be ABSENT, not infinite."""
    path = tmp_path_factory.mktemp("khopr")
    rows = []
    for i, parts in enumerate(baskets):
        for p in parts:
            rows.append((i, p, 1, 100))
    _write_lineitem(path, rows)

    adj = defaultdict(set)
    verts = set()
    for parts in baskets:
        ps = sorted(set(parts))
        verts.update(ps)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                adj[a].add(b)
                adj[b].add(a)
    dist = {v: 0 for v in verts if v % _KHOP_SEED_MOD == 0}
    frontier = set(dist)
    for d in range(1, _KHOP_K + 1):
        frontier = {
            n for v in frontier for n in adj[v] if n not in dist
        }
        for n in frontier:
            dist[n] = d

    got = {
        r["l_partkey"]: r["dist"]
        for r in REGISTRY["copurchase_khop_distance"].fn(spark, str(path)).collect()
    }
    assert got == dist


def test_khop_plan_no_python_no_cartesian(spark):
    plan = _plan(spark, "copurchase_khop_distance")
    for bad in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert bad not in plan, bad


# --------------------------------------------------------------------------
# k-anonymity
# --------------------------------------------------------------------------
def test_k_anonymity_null_qids_and_negative_bands(spark, tmp_path_factory):
    """NULL QIDs form their own (auditable) group; negative balances
    band by FLOOR (-1000.01 → band -2, -1000.00 → band -1, -0.01 →
    band -1), and the k flag flips exactly at n == K."""
    path = tmp_path_factory.mktemp("kanon")
    nat = [None] + [7] * (_K_ANON + 2)
    seg = [None] + ["AUTO"] * (_K_ANON + 2)
    bal = [-1000.01, -1000.00, -0.01] + [500.0] * (_K_ANON - 1) + [1500.0]
    n = len(nat)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(1, n + 1), pa.int64()),
                "c_name": pa.array([f"C{i}" for i in range(n)], pa.string()),
                "c_nationkey": pa.array(nat, pa.int32()),
                "c_acctbal": pa.array(bal, pa.float64()),
                "c_mktsegment": pa.array(seg, pa.string()),
            }
        ),
        str(path / "customer.parquet"),
    )
    out = REGISTRY["customer_k_anonymity"].fn(spark, str(path)).collect()
    got = {
        (r["c_nationkey"], r["c_mktsegment"], r["bal_band"]): (
            r["n_rows"],
            r["k_anonymous"],
        )
        for r in out
    }
    assert got == {
        (None, None, -2): (1, False),  # -1000.01
        (7, "AUTO", -1): (2, False),  # -1000.00 and -0.01 share band -1
        (7, "AUTO", 0): (_K_ANON - 1, False),  # 4 rows: below k
        (7, "AUTO", 1): (1, False),
    }
    # and a group AT k is anonymous: add one more 500.0 row
    bal2 = bal + [500.0]
    nat2 = nat + [7]
    seg2 = seg + ["AUTO"]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(1, n + 2), pa.int64()),
                "c_name": pa.array([f"C{i}" for i in range(n + 1)], pa.string()),
                "c_nationkey": pa.array(nat2, pa.int32()),
                "c_acctbal": pa.array(bal2, pa.float64()),
                "c_mktsegment": pa.array(seg2, pa.string()),
            }
        ),
        str(path / "customer.parquet"),
    )
    out2 = REGISTRY["customer_k_anonymity"].fn(spark, str(path)).collect()
    at_k = [r for r in out2 if r["bal_band"] == 0 and r["c_nationkey"] == 7]
    assert len(at_k) == 1
    assert at_k[0]["n_rows"] == _K_ANON and at_k[0]["k_anonymous"] is True


def test_k_anonymity_single_exchange(spark):
    """One map-side-combinable aggregate: exactly one data exchange,
    partitioned on the QID tuple."""
    plan = _plan(spark, "customer_k_anonymity")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_count" in plan


# --------------------------------------------------------------------------
# Rollup cascade + CUPED
# --------------------------------------------------------------------------
def _write_events(path, rows):
    """rows: [(user_id, ts_or_None, value_cents_or_None)] — value is
    written as an exact 2-dp double."""
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * n, pa.string()),
                "value": pa.array(
                    [None if r[2] is None else r[2] / 100.0 for r in rows],
                    pa.float64(),
                ),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        str(path / "events.parquet"),
    )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9),  # user
            st.integers(min_value=0, max_value=40),  # day offset
            st.one_of(st.none(), st.integers(min_value=0, max_value=50_000)),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_HYP)
def test_rollup_cascade_equals_python_model(spark, tmp_path_factory, rows):
    """Cascaded weekly moments == a python recompute straight from raw
    rows, using the same IEEE expression order — if any tier lost or
    double-merged a bucket, counts and sums (exact ints) would diverge
    before the floats even matter."""
    import datetime as dt
    import math

    base = dt.datetime(2024, 1, 1)  # a Monday
    path = tmp_path_factory.mktemp("cascade")
    ev = [(u, base + dt.timedelta(days=d, hours=u), c) for u, d, c in rows]
    _write_events(path, ev)

    agg = defaultdict(lambda: [0, 0, 0, None, None])
    for _, ts, c in ev:
        wk = (ts - dt.timedelta(days=ts.weekday())).date()
        g = agg[wk]
        if c is not None:
            g[0] += 1
            g[1] += c
            g[2] += c * c
            g[3] = c if g[3] is None else min(g[3], c)
            g[4] = c if g[4] is None else max(g[4], c)

    expect = {}
    for wk, (n, sc, ssq, mn, mx) in agg.items():
        mean = float(sc) / n / 100.0 if n > 0 else None
        std = (
            math.sqrt(max((float(ssq) - float(sc) * float(sc) / n) / (n - 1), 0.0))
            / 100.0
            if n > 1
            else None
        )
        expect[wk] = (
            n,
            mean,
            std,
            None if mn is None else mn / 100.0,
            None if mx is None else mx / 100.0,
        )

    got = {
        r["week_start"]: (
            r["n"],
            r["mean_value"],
            r["stddev_value"],
            r["min_value"],
            r["max_value"],
        )
        for r in REGISTRY["events_rollup_cascade"].fn(spark, str(path)).collect()
    }
    assert got == expect


def test_rollup_cascade_actually_cascades(spark):
    """The plan must aggregate three times off ONE scan — weekly from
    daily from hourly — not three independent scans of events."""
    plan = _plan(spark, "events_rollup_cascade")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 6  # 3 tiers x partial+final
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert bad not in plan, bad


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),  # user
            st.booleans(),  # pre/post period
            st.integers(min_value=0, max_value=20_000),  # cents
        ),
        min_size=4,
        max_size=60,
    ).filter(lambda rs: len({u for u, pre, _ in rs if pre}) >= 2)
)
@example(rows=[(1, False, 0), (1, False, 0), (1, True, 0), (2, True, 0)])
@settings(**_HYP)
def test_cuped_equals_python_model(spark, tmp_path_factory, rows):
    """CUPED readout == a python model applying Deng et al.'s formulas
    with the same expression order. The filter keeps at least two
    distinct pre-period users. Their pre-period sums can still be equal
    (the pinned example: all zero), so var(x) = 0; both sides then
    define θ = 0 and the adjusted mean equals the post-period mean."""
    import datetime as dt

    path = tmp_path_factory.mktemp("cuped")
    split = dt.datetime(2024, 1, 16)
    ev = []
    for i, (u, pre, c) in enumerate(rows):
        ts = split + dt.timedelta(hours=-u * 3 - 1 if pre else u * 3 + 1)
        ev.append((u, ts, c))
    _write_events(path, ev)

    xs = defaultdict(int)
    ys = defaultdict(int)
    users = set()
    for u, ts, c in ev:
        users.add(u)
        if ts < split:
            xs[u] += c
        else:
            ys[u] += c
    n = len(users)
    sx = sum(xs[u] for u in users)
    sy = sum(ys[u] for u in users)
    sxx = sum(xs[u] * xs[u] for u in users)
    sxy = sum(xs[u] * ys[u] for u in users)
    xbar = float(sx) / n
    var_x = float(sxx) - float(sx) * sx / n
    th = 0.0 if var_x == 0 else (float(sxy) - float(sx) * sy / n) / var_x
    expect = {}
    for v in {u % 2 for u in users}:
        vu = [u for u in users if u % 2 == v]
        nv = len(vu)
        sxv = sum(xs[u] for u in vu)
        syv = sum(ys[u] for u in vu)
        expect[v] = (
            nv,
            float(syv) / nv / 100.0,
            (float(syv) - th * (float(sxv) - nv * xbar)) / nv / 100.0,
        )

    got = {
        r["variant"]: (r["n_users"], r["mean_post"], r["mean_adjusted"])
        for r in REGISTRY["variant_cuped_adjusted"].fn(spark, str(path)).collect()
    }
    assert got == expect


# --------------------------------------------------------------------------
# Late-arrival audit + survival life table
# --------------------------------------------------------------------------
@given(
    deltas=st.lists(st.integers(min_value=0, max_value=7200), min_size=1, max_size=80)
)
@settings(**_HYP)
def test_late_audit_equals_python_model(spark, tmp_path_factory, deltas):
    """Band counts == a python model that replays the same reversed
    16-event micro-batch permutation and tracks the high-water mark
    serially — if the two-phase distributed running max dropped a
    partition boundary, the '>0 lateness' bands would shift."""
    import datetime as dt
    from pse_stocks_etl_spark.plans.round13_queries import _LATE_BANDS_S, _LATE_BLOCK

    path = tmp_path_factory.mktemp("late")
    base = dt.datetime(2024, 1, 1)
    t, ev = 0, []
    for i, d in enumerate(deltas):
        t += d
        ev.append((1, base + dt.timedelta(seconds=t), 100))
    _write_events(path, ev)

    def band(late_s):
        for cutoff, label in _LATE_BANDS_S:
            if late_s <= cutoff:
                return label
        return ">1h"

    order = sorted(
        range(len(ev)),
        key=lambda i: (i // _LATE_BLOCK) * _LATE_BLOCK
        + (_LATE_BLOCK - 1 - i % _LATE_BLOCK),
    )
    hwm, expect = None, defaultdict(lambda: [0, None])
    for i in order:
        ts = ev[i][1]
        hwm = ts if hwm is None or ts > hwm else hwm
        late = int((hwm - ts).total_seconds())
        g = expect[band(late)]
        g[0] += 1
        g[1] = late if g[1] is None else max(g[1], late)
    tot = len(ev)

    got = {
        r["band"]: (r["n"], r["max_late_s"], r["share"])
        for r in REGISTRY["events_late_arrival_audit"].fn(spark, str(path)).collect()
    }
    assert got == {b: (n, mx, float(n) / tot) for b, (n, mx) in expect.items()}


def test_late_audit_two_phase_plan(spark):
    """The corpus-sized exchange must be a RANGE partitioning on the
    arrival key (the two-phase shape) — never a global hash-free sort;
    the only single-partition window is the 16-row per-bucket prefix."""
    plan = _plan(spark, "events_late_arrival_audit")
    assert re.search(r"rangepartitioning\(arrival", plan), plan[:2000]
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert bad not in plan, bad


def test_lifetable_hand_fixture(spark, tmp_path_factory):
    """User 1 churns: a 3-day gap opens at their day-1 event (death at
    t=1 even though activity resumes later); user 2 never gaps >48h
    (censored at their last event, day 4); user 3 has one event
    (censored at day 0)."""
    import datetime as dt

    path = tmp_path_factory.mktemp("lt")
    d0 = dt.datetime(2024, 1, 1)
    ev = [
        (1, d0, 100),
        (1, d0 + dt.timedelta(days=1), 100),
        (1, d0 + dt.timedelta(days=4, hours=1), 100),  # resumes after gap
        (2, d0, 100),
        (2, d0 + dt.timedelta(days=2), 100),
        (2, d0 + dt.timedelta(days=4), 100),
        (3, d0, 100),
    ]
    _write_events(path, ev)
    got = {
        r["day"]: (r["n_at_risk"], r["n_deaths"], r["n_censored"], r["hazard"])
        for r in REGISTRY["user_survival_lifetable"].fn(spark, str(path)).collect()
    }
    assert got == {
        0: (3, 0, 1, 0.0),  # user 3 censored at day 0
        1: (2, 1, 0, 0.5),  # user 1 dies at the gap-opening event
        4: (1, 0, 1, 0.0),  # user 2 censored at last activity
    }


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # user
            st.integers(min_value=0, max_value=9000),  # minutes offset
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_HYP)
def test_lifetable_equals_python_model(spark, tmp_path_factory, rows):
    """Life table == a python model on random event streams: per-user
    first/death/censor bookkeeping plus the at-risk cumulative."""
    import datetime as dt
    from pse_stocks_etl_spark.plans.round13_queries import _CHURN_GAP_H

    path = tmp_path_factory.mktemp("ltr")
    d0 = dt.datetime(2024, 1, 1)
    ev = [(u, d0 + dt.timedelta(minutes=m), 100) for u, m in rows]
    _write_events(path, ev)

    by_user = defaultdict(list)
    for u, ts, _ in ev:
        by_user[u].append(ts)
    lifetimes = []
    for u, tss in by_user.items():
        tss.sort()
        death = None
        for a, b in zip(tss, tss[1:]):
            if (b - a).total_seconds() > _CHURN_GAP_H * 3600:
                death = a
                break
        end = death if death is not None else tss[-1]
        day = int((end - tss[0]).total_seconds() * 1_000_000) // 86_400_000_000
        lifetimes.append((day, death is None))
    expect = {}
    days = sorted({d for d, _ in lifetimes})
    for t in days:
        n_at_risk = sum(1 for d, _ in lifetimes if d >= t)
        n_deaths = sum(1 for d, c in lifetimes if d == t and not c)
        n_cens = sum(1 for d, c in lifetimes if d == t and c)
        expect[t] = (n_at_risk, n_deaths, n_cens, float(n_deaths) / n_at_risk)

    got = {
        r["day"]: (r["n_at_risk"], r["n_deaths"], r["n_censored"], r["hazard"])
        for r in REGISTRY["user_survival_lifetable"].fn(spark, str(path)).collect()
    }
    assert got == expect


# --------------------------------------------------------------------------
# Streaming late-drop semantics (append mode)
# --------------------------------------------------------------------------
def _run_late_drop(spark, path):
    return {
        r["window_start"]: (r["n"], r["sum_value"])
        for r in REGISTRY["streaming_late_drop_counts"].fn(spark, str(path)).collect()
    }


def test_late_drop_calibration_fixture(spark, tmp_path_factory):
    """Pins the empirically calibrated runtime semantics the oracle
    encodes (module comment in round13_queries): the late filter of
    batch b uses stats of batches <= b-2 (row arriving one batch after
    the watermark-advancing batch is NOT dropped; two batches after,
    it IS), drop and final emission are both INCLUSIVE at the
    boundary, and unfinalized windows never emit. K=4, delay=2h,
    1h windows."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def t(h, m=0):
        return base + dt.timedelta(hours=h, minutes=m)

    path = tmp_path_factory.mktemp("latedrop")
    # batch = event_id % 4. Batch 0 carries the max (13:00) -> wm 11:00.
    # batch 1: row at 8:30 survives (filter lag: stats <= batch -1).
    # batch 2: row at 8:45 dropped (window end 9:00 <= 11:00);
    #          row at 10:59 dropped INCLUSIVELY (end 11:00 == wm);
    #          row at 11:30 kept (end 12:00 > 11:00).
    # batch 3: row at 23:00 pushes final wm to 21:00 -> its own window
    #          [23:00] must NOT emit (end 24:00 > 21:00).
    rows = [
        (0, t(8, 15)), (4, t(13, 0)),          # batch 0
        (1, t(8, 30)),                          # batch 1
        (2, t(8, 45)), (6, t(10, 59)), (10, t(11, 30)),  # batch 2
        (3, t(23, 0)),                          # batch 3
    ]
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    ids = [eid for eid, _ in rows]
    tss = [ts for _, ts in rows]
    _pq.write_table(
        _pa.table(
            {
                "event_id": _pa.array(ids, _pa.int64()),
                "ts": _pa.array(tss, _pa.timestamp("us")),
                "user_id": _pa.array([1] * len(ids), _pa.int64()),
                "event_type": _pa.array(["click"] * len(ids), _pa.string()),
                "value": _pa.array([1.0] * len(ids), _pa.float64()),
                "props": _pa.array(["{}"] * len(ids), _pa.string()),
            }
        ),
        str(path / "events.parquet"),
    )
    got = _run_late_drop(spark, path)
    assert got == {
        t(8): (2, 2.0),    # 8:15 (b0) + 8:30 (b1 survives the lag); 8:45 dropped
        t(11): (1, 1.0),   # 11:30 kept; 10:59 dropped inclusively
        t(13): (1, 1.0),   # the wm-advancing row itself, end 14:00 <= 21:00
    }


def test_late_drop_matches_oracle_under_shuffled_ids(spark, tmp_path_factory):
    """Random (id, ts) assignments: the query must match its own
    DuckDB oracle on fixtures far denser in late rows than the
    testdata — every id permutation is a different arrival schedule."""
    import datetime as dt
    import duckdb

    from pse_stocks_etl_spark.plans.round13_queries import _sql_late_drop

    base = dt.datetime(2024, 1, 1)
    rng_rows = [
        (eid, base + dt.timedelta(minutes=(eid * librt) % 2000))
        for eid, librt in zip(range(40), [37, 113, 59, 211] * 10)
    ]
    path = tmp_path_factory.mktemp("latedrop_r")
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    _pq.write_table(
        _pa.table(
            {
                "event_id": _pa.array([r[0] for r in rng_rows], _pa.int64()),
                "ts": _pa.array([r[1] for r in rng_rows], _pa.timestamp("us")),
                "user_id": _pa.array([1] * len(rng_rows), _pa.int64()),
                "event_type": _pa.array(["click"] * len(rng_rows), _pa.string()),
                "value": _pa.array([1.0] * len(rng_rows), _pa.float64()),
                "props": _pa.array(["{}"] * len(rng_rows), _pa.string()),
            }
        ),
        str(path / "events.parquet"),
    )
    got = _run_late_drop(spark, path)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{path}/events.parquet'"
    )
    expect = {
        r[0]: (r[1], r[2]) for r in con.sql(_sql_late_drop()).fetchall()
    }
    assert got == expect


# --------------------------------------------------------------------------
# Continuous-aggregate increment
# --------------------------------------------------------------------------
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # event_id
            st.integers(min_value=0, max_value=40),  # day offset
            st.integers(min_value=0, max_value=23),  # hour
            st.one_of(st.none(), st.integers(min_value=0, max_value=50_000)),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    )
)
@settings(**_HYP)
def test_cascade_increment_equals_full_recompute(spark, tmp_path_factory, rows):
    """Tier-reuse routing on random shards: the shard (event_id % 8 == 0)
    may open brand-new hours, days and weeks (carried/recomputed
    routing must not drop or double them), the standing corpus may own
    weeks the shard never touches (must carry verbatim), and an
    all-standing draw degenerates to the no-op refresh. The expected
    table is a python recompute from ALL rows — identical to what the
    DuckDB oracle does, but on hostile shapes the testdata lacks."""
    import datetime as dt
    import math

    base = dt.datetime(2024, 1, 1)
    path = tmp_path_factory.mktemp("casinc")
    ev, n = [], len(rows)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [
                        base + dt.timedelta(days=r[1], hours=r[2])
                        for r in rows
                    ],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["click"] * n, pa.string()),
                "value": pa.array(
                    [None if r[3] is None else r[3] / 100.0 for r in rows],
                    pa.float64(),
                ),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        str(path / "events.parquet"),
    )

    agg = defaultdict(lambda: [0, 0, 0, None, None])
    for eid, d, h, c in rows:
        ts = base + dt.timedelta(days=d, hours=h)
        wk = (ts - dt.timedelta(days=ts.weekday())).date()
        g = agg[wk]
        if c is not None:
            g[0] += 1
            g[1] += c
            g[2] += c * c
            g[3] = c if g[3] is None else min(g[3], c)
            g[4] = c if g[4] is None else max(g[4], c)
    expect = {}
    for wk, (cnt, sc, ssq, mn, mx) in agg.items():
        mean = float(sc) / cnt / 100.0 if cnt > 0 else None
        std = (
            math.sqrt(max((float(ssq) - float(sc) * float(sc) / cnt) / (cnt - 1), 0.0))
            / 100.0
            if cnt > 1
            else None
        )
        expect[wk] = (
            cnt,
            mean,
            std,
            None if mn is None else mn / 100.0,
            None if mx is None else mx / 100.0,
        )

    got = {
        r["week_start"]: (
            r["n"],
            r["mean_value"],
            r["stddev_value"],
            r["min_value"],
            r["max_value"],
        )
        for r in REGISTRY["events_cascade_increment"].fn(spark, str(path)).collect()
    }
    assert got == expect


def test_cascade_increment_plan_no_python(spark):
    plan = _plan(spark, "events_cascade_increment")
    for bad in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert bad not in plan, bad
    # the carried/recomputed routing must broadcast the tiny key sets
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------------------
# Decayed heavy hitters
# --------------------------------------------------------------------------
def test_decayed_hitters_hand_fixture(spark, tmp_path_factory):
    """Exact shift decay: an event 0 weeks old keeps full value, 1 week
    old halves (floor), 2 weeks quarters — and recency flips the rank:
    type 'b' has less raw value but more decayed value."""
    import datetime as dt
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    path = tmp_path_factory.mktemp("decay")
    anchor = dt.datetime(2024, 1, 29)
    rows = [
        # type a: big but stale (2 weeks): 1001 cents -> 250 (floor of /4)
        ("a", anchor - dt.timedelta(weeks=2), 10.01),
        # type b: small but fresh: 601 -> 601, plus 1-week 301 -> 150
        ("b", anchor, 6.01),
        ("b", anchor - dt.timedelta(weeks=1), 3.01),
        # type c: ancient — ages past the 62-week clamp (ADVICE r7).
        # Unclamped, 63 weeks shifts the divisor into the sign bit
        # (Spark DIV-trunc vs DuckDB //-floor disagree) and >= 64
        # raises in DuckDB while Spark masks the count mod 64; the
        # true weight is 0 either way.
        ("c", anchor - dt.timedelta(weeks=63), 99.99),
        ("c", anchor - dt.timedelta(weeks=200), 88.88),
    ]
    _pq.write_table(
        _pa.table(
            {
                "event_id": _pa.array(range(len(rows)), _pa.int64()),
                "ts": _pa.array([r[1] for r in rows], _pa.timestamp("us")),
                "user_id": _pa.array([1] * len(rows), _pa.int64()),
                "event_type": _pa.array([r[0] for r in rows], _pa.string()),
                "value": _pa.array([r[2] for r in rows], _pa.float64()),
                "props": _pa.array(["{}"] * len(rows), _pa.string()),
            }
        ),
        str(path / "events.parquet"),
    )
    got = {
        r["event_type"]: (r["raw_value"], r["decayed_value"], r["rnk"])
        for r in REGISTRY["events_decayed_hitters"].fn(spark, str(path)).collect()
    }
    expected = {
        "a": (10.01, 2.50, 2),
        "b": (9.02, 7.51, 1),  # fresh beats stale despite less raw value
        "c": (188.87, 0.00, 3),  # clamped to zero weight, never overflow
    }
    assert got == expected
    # and the ORACLE agrees on the clamp (DuckDB would raise
    # 'left-shift out of range' at age >= 64 weeks without it)
    import duckdb as _dd

    con = _dd.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}/events.parquet'")
    oracle = {
        t: (rv, dv, rk)
        for t, _n, rv, dv, rk in con.sql(
            REGISTRY["events_decayed_hitters"].oracle
        ).fetchall()
    }
    assert oracle == expected


# --------------------------------------------------------------------------
# Streaming Python Data Source
# --------------------------------------------------------------------------
def _run_price_stream(spark, days_per_batch: int):
    import uuid

    from pse_stocks_etl_spark.sources import pse_datasource

    pse_datasource.register(spark)
    sdf = (
        spark.readStream.format("pse_edge_fake")
        .option("start", "2024-01-01")
        .option("end", "2024-01-31")
        .option("days_per_batch", str(days_per_batch))
        .load()
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = sdf.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    rows = {tuple(r) for r in spark.table(name).collect()}
    return rows, n_batches


def test_stream_datasource_batching_invariant_and_exactly_once(spark):
    """The union of micro-batches must be independent of the batch
    size (no window dropped or read twice across offset boundaries),
    and the pacing must really produce multiple batches: 31 days at
    7/batch = 5 batches, at 31/batch = 1."""
    whole, n1 = _run_price_stream(spark, 31)
    paced, n5 = _run_price_stream(spark, 7)
    assert n1 == 1 and n5 == 5
    assert whole == paced
    batch = {
        tuple(r)
        for r in (
            spark.read.format("pse_edge_fake")
            .option("start", "2024-01-01")
            .option("end", "2024-01-31")
            .load()
        ).collect()
    }
    assert paced == batch


def test_stream_datasource_restart_exactly_once(spark, tmp_path_factory):
    """Checkpoint recovery: (1) mid-stream — each trigger(once) run
    resumes from the committed cursor, never re-reading a window;
    (2) post-drain — a restart after full commitment emits nothing.
    Before the commit()/partitions() fast-forward guards, a fresh
    reader re-announced regressed offsets and replayed 144 rows."""
    from pse_stocks_etl_spark.sources import pse_datasource

    pse_datasource.register(spark)
    ckpt = str(tmp_path_factory.mktemp("ds_ckpt"))
    out_dir = str(tmp_path_factory.mktemp("ds_out"))

    def run(once: bool):
        sdf = (
            spark.readStream.format("pse_edge_fake")
            .option("start", "2024-01-01")
            .option("end", "2024-01-31")
            .option("days_per_batch", "7")
            .load()
        )
        w = (
            sdf.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
        )
        if once:
            q = w.trigger(once=True).start()
            q.awaitTermination()
        else:
            q = w.start()
            q.processAllAvailable()
            q.stop()
        return spark.read.parquet(out_dir).count()

    n_mid = run(once=True)  # one (or first) window only
    total = run(once=False)  # drain the rest across a restart
    assert 0 < n_mid < total
    again = run(once=False)  # fully-committed restart: nothing new
    df = spark.read.parquet(out_dir)
    assert again == total == df.distinct().count() == 184
