"""Property-based tests (hypothesis): the merge and dedup operators are
checked against a pure-python reference model on randomized inputs —
strictly stronger than the reference's golden-value tests (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pse_stocks_etl_spark.operators.dedup import argmax_dedup
from pse_stocks_etl_spark.operators.merge import merge_dataframes

ROW_SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.IntegerType(), False),
        T.StructField("fresh", T.IntegerType(), False),
    ]
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),   # key — small domain forces collisions
        st.integers(0, 99),  # value
        st.integers(0, 9),   # freshness
    ),
    max_size=12,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _unique_by_key(rows):
    out = {}
    for k, v, f in rows:
        out[k] = (k, v, f)
    return list(out.values())


@given(target=rows_strategy, source=rows_strategy)
@SETTINGS
def test_merge_matches_python_model(spark, target, source):
    target = _unique_by_key(target)
    source = _unique_by_key(source)
    tdf = spark.createDataFrame(target, ROW_SCHEMA)
    sdf = spark.createDataFrame(source, ROW_SCHEMA)
    got = sorted(
        map(tuple, merge_dataframes(tdf, sdf, ["k"], freshness_col="fresh").collect())
    )
    # model: source wins iff new key OR source.fresh >= target.fresh
    model = {k: row for row in target for k in [row[0]]}
    for row in source:
        k = row[0]
        if k not in model or row[2] >= model[k][2]:
            model[k] = row
    assert got == sorted(model.values())


@given(rows=rows_strategy)
@SETTINGS
def test_merge_is_idempotent(spark, rows):
    source = _unique_by_key(rows)
    tdf = spark.createDataFrame([], ROW_SCHEMA)
    sdf = spark.createDataFrame(source, ROW_SCHEMA)
    once = merge_dataframes(tdf, sdf, ["k"], freshness_col="fresh")
    twice = merge_dataframes(once, sdf, ["k"], freshness_col="fresh")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(target=rows_strategy, source=rows_strategy)
@SETTINGS
def test_merge_cdf_agrees_with_merge_result(spark, target, source):
    """The CDF view must be exactly the delta of the merge: target rows
    minus preimages plus postimages/inserts == merge_dataframes result,
    and every update key contributes one preimage and one postimage."""
    from pse_stocks_etl_spark.operators.merge import merge_cdf

    target = _unique_by_key(target)
    source = _unique_by_key(source)
    tdf = spark.createDataFrame(target, ROW_SCHEMA)
    sdf = spark.createDataFrame(source, ROW_SCHEMA)
    cdf = merge_cdf(tdf, sdf, ["k"], freshness_col="fresh").collect()
    pre = {r.k: (r.k, r.v, r.fresh) for r in cdf if r._change_type == "update_preimage"}
    post = {r.k: (r.k, r.v, r.fresh) for r in cdf if r._change_type == "update_postimage"}
    ins = {r.k: (r.k, r.v, r.fresh) for r in cdf if r._change_type == "insert"}
    assert set(pre) == set(post)  # paired before/after images
    assert not (set(ins) & {row[0] for row in target})  # inserts are new keys
    applied = {row[0]: row for row in target}
    applied.update(post)
    applied.update(ins)
    merged = sorted(
        map(tuple, merge_dataframes(tdf, sdf, ["k"], freshness_col="fresh").collect())
    )
    assert merged == sorted(applied.values())
    # preimages really are the target's current rows for those keys
    tmap = {row[0]: row for row in target}
    assert all(pre[k] == tmap[k] for k in pre)


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=15))
@SETTINGS
def test_argmax_dedup_picks_max_with_deterministic_tiebreak(spark, rows):
    df = spark.createDataFrame(rows, ROW_SCHEMA)
    got = {r.k: (r.v, r.fresh) for r in argmax_dedup(df, ["k"], "v", tiebreak=["fresh"]).collect()}
    # model: max v; among ties smallest fresh
    model = {}
    for k, v, f in rows:
        cur = model.get(k)
        if cur is None or (v, -f) > (cur[0], -cur[1]):
            model[k] = (v, f)
    assert got == model


pack_strategy = st.lists(
    st.tuples(
        st.integers(0, 999),      # doc_id
        st.integers(1, 60),       # token count (words in text)
        st.sampled_from(["a", "b", "c"]),  # source shard
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)


@given(docs=pack_strategy)
@SETTINGS
def test_pack_chunks_invariants(spark, tmp_path_factory, docs):
    """Packing invariants, independent of the SQL oracle: per source,
    token spans are contiguous and gap-free in doc_id order; chunk ids
    are exactly the integer spans the offsets dictate; every doc spans
    >= 1 chunk."""
    from pse_stocks_etl_spark.plans.corpus_queries import PACK_CAPACITY
    from pse_stocks_etl_spark.plans import REGISTRY

    tmp = tmp_path_factory.mktemp("pack")
    df = spark.createDataFrame(
        [(i, "w " * n, "en", src, 2 * n) for i, n, src in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    rows = REGISTRY["docs_pack_chunks"].fn(spark, str(tmp)).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    n_by_id = {i: n for i, n, _ in docs}
    for src, rs in by_source.items():
        rs.sort(key=lambda r: r.doc_id)
        expect_off = 0
        for r in rs:
            assert r.n_tokens == n_by_id[r.doc_id]
            assert r.start_off == expect_off          # contiguous, gap-free
            assert r.first_chunk == r.start_off // PACK_CAPACITY
            assert r.last_chunk == (r.start_off + r.n_tokens - 1) // PACK_CAPACITY
            assert r.n_chunks == r.last_chunk - r.first_chunk + 1 >= 1
            expect_off += r.n_tokens


# ---------------------------------------------------------------------------
# Round-6 operators vs pure-Python reference models
# ---------------------------------------------------------------------------

points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # price
        st.integers(min_value=0, max_value=20),  # size
    ),
    min_size=1,
    max_size=25,
)


@given(points=points_strategy)
@SETTINGS
def test_skyline_two_phase_matches_brute_force(spark, points):
    """The sort-based two-phase skyline must equal the O(n²) dominance
    definition on arbitrary point sets (ties, duplicates, collinear
    runs included)."""
    from pse_stocks_etl_spark.plans.round6_queries import _skyline_filter

    rows = [(i, p, s) for i, (p, s) in enumerate(points)]

    def dominated(a):
        return any(
            (b[1] <= a[1] and b[2] >= a[2]) and (b[1] < a[1] or b[2] > a[2])
            for b in rows
        )

    expect = sorted(r for r in rows if not dominated(r))

    df = spark.createDataFrame(rows, "p_partkey long, price_c long, size long")
    ranged = df.repartitionByRange(4, F.asc("price_c"), F.asc("p_partkey"))
    ranged = ranged.withColumn("pid", F.spark_partition_id())
    local = _skyline_filter(ranged, pid="pid").drop("pid")
    got = sorted(tuple(r) for r in _skyline_filter(local, pid=None).collect())
    assert got == expect


ewma_strategy = st.lists(
    st.integers(min_value=0, max_value=50_000), min_size=1, max_size=20
)


@given(ys=ewma_strategy)
@SETTINGS
def test_ewma_fold_matches_python_reference(spark, ys):
    """The window-frame higher-order fold must equal the direct Python
    EWMA over the trailing window — including the dyadic-exactness
    claim (== on floats, no tolerance)."""
    from pse_stocks_etl_spark.plans.round6_queries import EWMA_WINDOW
    from pyspark.sql import Window

    rows = [(1, i, y) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "user_id long, rn long, y long")
    w = Window.partitionBy("user_id").orderBy("rn")
    frame = w.rowsBetween(-(EWMA_WINDOW - 1), 0)
    seq = df.select(
        "rn", F.collect_list("y").over(frame).alias("fr")
    )
    num = (
        "aggregate(transform(fr, (e, i) -> e / CAST(shiftleft(1L, "
        "size(fr) - 1 - i) AS DOUBLE)), CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    den = (
        "aggregate(transform(fr, (e, i) -> 1.0 / CAST(shiftleft(1L, "
        "size(fr) - 1 - i) AS DOUBLE)), CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    got = {
        r.rn: r.e
        for r in seq.select("rn", F.expr(f"({num}) / ({den})").alias("e")).collect()
    }
    for t in range(len(ys)):
        lo = max(0, t - (EWMA_WINDOW - 1))
        window = ys[lo : t + 1]
        m = len(window)
        n = sum(v / 2 ** (m - 1 - i) for i, v in enumerate(window))
        d = sum(1.0 / 2 ** (m - 1 - i) for i in range(m))
        assert got[t] == n / d  # exact — dyadic terms, no tolerance


def test_pagerank_conserves_integer_mass(spark, sf_dir):
    """Integer PageRank loses only division dust: total mass after k
    iterations is within k · (17/20-truncation + per-edge remainder)
    of the initial total, and never grows."""
    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.plans.round6_queries import PR_ITERS, PR_MASS0

    rows = plans.REGISTRY["copurchase_pagerank"].fn(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r.mass for r in rows)
    assert total <= n * PR_MASS0
    # dust bound: each node's send pass drops < 20 (damping div) plus
    # < deg remainders per iteration; degrees sum to 2|E| ≤ n·(n-1),
    # but a generous linear bound suffices to catch real mass leaks.
    assert n * PR_MASS0 - total < PR_ITERS * n * 1000
    assert all(r.mass > 0 for r in rows)


def test_bloom_prefilter_equals_plain_semi_join_across_thresholds(spark, sf_dir):
    """The Bloom pre-filter must be semantically invisible for ANY dim
    selectivity — false positives always die in the exact join."""
    from pse_stocks_etl_spark.plans import round6_queries as r6

    orig = r6.BLOOM_PRICE_MIN
    try:
        for threshold in (0.0, 250_000.0, 600_000.0):  # all / ~half / none
            r6.BLOOM_PRICE_MIN = threshold
            got = sorted(
                tuple(r)
                for r in r6.bloom_prefilter_semi_join(spark, sf_dir).collect()
            )
            from pse_stocks_etl_spark.sources.catalog import load_table

            o = (
                load_table(spark, sf_dir, "orders")
                .filter(F.col("o_totalprice") > threshold)
                .select("o_orderkey")
            )
            li = load_table(spark, sf_dir, "lineitem")
            plain = (
                li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
                .groupBy("l_returnflag")
                .agg(F.count("*").alias("n_items"), F.sum("l_quantity").alias("sum_qty"))
            )
            expect = sorted(tuple(r) for r in plain.collect())
            assert got == expect, f"threshold {threshold}"
    finally:
        r6.BLOOM_PRICE_MIN = orig


# ---------------------------------------------------------------- round 7 --
_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),      # user_id — small domain forces collisions
        st.integers(0, 20),     # day offset
        st.integers(0, 4),      # intra-day hour
    ),
    min_size=1,
    max_size=25,
)


def _events_df(spark, tmp, rows):
    base = dt.datetime(2024, 1, 1)
    data = [
        (
            i,
            base + dt.timedelta(days=d, hours=h),
            u,
            "view",
            1.0,
            "{}",
        )
        for i, (u, d, h) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    return str(tmp)


@given(rows=_events_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_islands_match_python_model(spark, tmp_path_factory, rows):
    """Gaps-and-islands vs a pure-python streak model on random
    (user, day) activity patterns."""
    from pse_stocks_etl_spark.plans import REGISTRY

    tmp = tmp_path_factory.mktemp("isl")
    got = {
        r["user_id"]: (r["n_streaks"], r["longest_streak"], r["active_days"])
        for r in REGISTRY["user_activity_islands"]
        .fn(spark, _events_df(spark, tmp, rows))
        .collect()
    }
    model: dict[int, tuple[int, int, int]] = {}
    by_user: dict[int, set[int]] = {}
    for u, d, _h in rows:
        by_user.setdefault(u, set()).add(d)
    for u, days in by_user.items():
        ds = sorted(days)
        streaks = [1]
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                streaks[-1] += 1
            else:
                streaks.append(1)
        model[u] = (len(streaks), max(streaks), len(ds))
    assert got == model


@given(rows=_events_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_debounce_matches_python_model(spark, tmp_path_factory, rows):
    """Debounce keep/suppress counts vs a pure-python model: an event
    is kept iff the previous same-(user,type) event — in (ts, event_id)
    order — is more than 5s older. Hour-granularity inputs make every
    nonzero gap > 5s, so suppressions are exactly the duplicate
    (user, ts) slots, which the model counts directly."""
    from pse_stocks_etl_spark.plans import REGISTRY

    tmp = tmp_path_factory.mktemp("deb")
    out = (
        REGISTRY["events_debounce"]
        .fn(spark, _events_df(spark, tmp, rows))
        .collect()
    )
    assert len(out) == 1 and out[0]["event_type"] == "view"
    r = out[0]
    base = dt.datetime(2024, 1, 1)
    per_user: dict[int, list[dt.datetime]] = {}
    for u, d, h in rows:
        per_user.setdefault(u, []).append(base + dt.timedelta(days=d, hours=h))
    kept = 0
    for ts_list in per_user.values():
        ts_list.sort()
        prev = None
        for ts in ts_list:
            if prev is None or (ts - prev).total_seconds() > 5:
                kept += 1
            prev = ts
    assert (r["n_total"], r["n_kept"], r["n_suppressed"]) == (
        len(rows),
        kept,
        len(rows) - kept,
    )


_ks_strategy = st.tuples(
    st.lists(st.integers(1, 40), min_size=1, max_size=15),  # click cents/100
    st.lists(st.integers(1, 40), min_size=1, max_size=15),  # purchase cents/100
)


@given(vals=_ks_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ks_matches_python_model(spark, tmp_path_factory, vals):
    """Two-sample KS vs the direct python supremum over the pooled
    distinct values."""
    from pse_stocks_etl_spark.plans import REGISTRY

    clicks, purchases = vals
    base = dt.datetime(2024, 1, 1)
    data = []
    eid = 0
    for v in clicks:
        data.append((eid, base + dt.timedelta(minutes=eid), 1, "click", float(v), "{}"))
        eid += 1
    for v in purchases:
        data.append((eid, base + dt.timedelta(minutes=eid), 2, "purchase", float(v), "{}"))
        eid += 1
    tmp = tmp_path_factory.mktemp("ks")
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    r = REGISTRY["value_ks_two_sample"].fn(spark, str(tmp)).collect()[0]

    n1, n2 = len(clicks), len(purchases)
    best = 0
    for v in sorted(set(clicks) | set(purchases)):
        c1 = sum(1 for x in clicks if x <= v)
        c2 = sum(1 for x in purchases if x <= v)
        best = max(best, abs(c1 * n2 - c2 * n1))
    assert (r["n1"], r["n2"], r["d_scaled"]) == (n1, n2, best)


@given(revs=st.lists(st.integers(1, 10**6), min_size=2, max_size=12))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gini_matches_python_model(spark, tmp_path_factory, revs):
    """Gini vs the direct rank-formula computation in python (each
    synthetic supplier sells one line of 100*rev cents)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pse_stocks_etl_spark.plans.round7_queries import supplier_revenue_gini

    tmp = tmp_path_factory.mktemp("gini")
    n = len(revs)
    table = pa.table(
        {
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array(range(1, n + 1), pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array([1.0] * n, pa.float64()),
            "l_extendedprice": pa.array([float(r) for r in revs], pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array(["N"] * n, pa.string()),
            "l_linestatus": pa.array(["O"] * n, pa.string()),
            "l_shipdate": pa.array([dt.datetime(2024, 1, 1)] * n, pa.timestamp("us")),
        }
    )
    pq.write_table(table, str(tmp / "lineitem.parquet"))
    row = supplier_revenue_gini(spark, str(tmp)).collect()[0]

    cents = [round(r * 100) for r in revs]
    order = sorted(range(n), key=lambda i: (cents[i], i + 1))
    srv = sum((rank + 1) * cents[i] for rank, i in enumerate(order))
    total = sum(cents)
    expect = 2.0 * srv / (n * total) - (n + 1.0) / n
    assert row["n_suppliers"] == n
    assert abs(row["gini"] - expect) < 1e-12
