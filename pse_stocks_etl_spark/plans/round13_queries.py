"""Round-13 queries (round-7 additions). Like every registry query they
get strict Arrow-level DuckDB parity through tests/test_parity.py.

Incremental-maintenance lane: `store_mv_refresh_increment` (the MV
refreshes from merge_cdf's preimage/postimage algebra alone — never a
base rescan — with a full-recompute oracle proving incremental ==
recompute) and `events_cascade_increment` (continuous-aggregate
refresh: a crawl shard folds into standing hourly/daily/weekly moment
tiers, only affected buckets recompute). Together with
`events_rollup_cascade` (the batch cascade whose oracle proves
re-aggregability) these are what keeps 100 TB of derived state
current under daily merges.

Streaming-ops lane: `events_late_arrival_audit` (lateness bands from a
two-phase distributed running max — the data a withWatermark delay
should be chosen from) and `streaming_late_drop_counts` (append-mode
windowed agg whose oracle spells the runtime's exact late-drop/emit
algebra, empirically calibrated: ms-floored batch stats, two-batch
filter lag, inclusive boundaries).

Analytics lanes: `copurchase_khop_distance` (bounded multi-source BFS,
the iterative-join traversal class next to pagerank's value iteration
and the dedup lane's component contraction), `variant_cuped_adjusted`
(CUPED variance-reduced A/B readout, Deng et al. WSDM'13),
`user_survival_lifetable` (right-censored churn-by-inactivity life
table), and `customer_k_anonymity` (quasi-identifier group-size audit,
the privacy-side complement of docs_pii_scrub).

Reference parity: the reference's sync loop maintains derived tables
under incremental merges and picks its lookback window from assumed
max lateness (src/etl/postgres_sync.py:180-206) — the incremental and
streaming-ops lanes are this engine's versioned-store and
event-time generalizations of exactly those two moves; the analytics
lanes extend the engine beyond the reference per the build brief.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents, sql_cents
from ..operators.merge import merge_cdf
from ..sources.catalog import load_table
from .registry import register

# --------------------------------------------------------------------------
# Incremental materialized-view refresh from a merge change feed
# --------------------------------------------------------------------------
# Deterministic slices of the (l_orderkey, l_partkey) fact rollup:
# base = keys with orderkey ≡ 0 (mod 3); the CDC batch updates the
# orderkey ≡ 0 (mod 9) subset (+5 qty, +10000 price cents) and inserts
# the orderkey ≡ 1 (mod 3) keys. All closed-form, so the refreshed
# MV equals a plain SQL recompute over the final base state.
_MV_QTY_BUMP = 5
_MV_PRICE_BUMP_CENTS = 10_000


def _make_fact_cache():
    from .llm_queries import register_working_set_cache

    return register_working_set_cache(__name__)


_MV_FACT_CACHE = _make_fact_cache()


def _mv_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, l_partkey) fact rollup, persisted per (session,
    sf_dir): stands in for the STORED base table a production MV
    maintains against — without it the self-contained query re-scans
    and re-aggregates lineitem in every branch (stale MV, CDF
    classify, delta), six scans for one refresh. Registered with
    clear_working_set_caches() like the shingle/simhash working sets."""
    from pyspark.storagelevel import StorageLevel

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        return (
            li.groupBy("l_orderkey", "l_partkey")
            .agg(
                F.sum(F.col("l_quantity").cast("long")).alias("qty"),
                F.sum(cents(F.col("l_extendedprice"))).alias("price_cents"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    key = (spark.sparkContext.applicationId, sf_dir)
    return _MV_FACT_CACHE.get_or_build(key, build)


def _sql_mv_refresh() -> str:
    fact = f"""
      SELECT l_orderkey, l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(SUM({sql_cents('l_extendedprice')}) AS BIGINT) AS price_cents
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
      GROUP BY 1, 2
    """
    return f"""
    WITH fact AS ({fact}),
    final AS (
      SELECT l_partkey,
             CASE WHEN l_orderkey % 9 = 0 THEN qty + {_MV_QTY_BUMP}
                  ELSE qty END AS qty,
             CASE WHEN l_orderkey % 9 = 0 THEN price_cents + {_MV_PRICE_BUMP_CENTS}
                  ELSE price_cents END AS price_cents
      FROM fact WHERE l_orderkey % 3 = 0
      UNION ALL
      SELECT l_partkey, qty, price_cents FROM fact WHERE l_orderkey % 3 = 1
    )
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_facts,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
    FROM final GROUP BY 1
    """


@register(
    "store_mv_refresh_increment",
    oracle=_sql_mv_refresh(),
    tags=("store", "K2", "cdf", "materialized-view", "incremental"),
    bench=True,
)
def store_mv_refresh_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-partkey
    aggregate MV is refreshed from the CHANGE FEED of a base-table
    merge (merge_cdf — Delta CDF semantics) instead of recomputed.
    Each CDF row contributes a signed delta (update_preimage = -1,
    insert / update_postimage = +1); the per-partkey delta aggregate
    full-outer-joins onto the stale MV with null-safe adds. The oracle
    recomputes the MV from the closed-form final base state, so hash
    equality PROVES the incremental algebra equals recompute — the
    invariant streaming aggregation relies on.

    Scale: the base table is aggregated ONCE to seed the stale MV (in
    production that MV already exists); everything after is
    proportional to the CDC batch — the change feed shuffles on the
    merge key over changed rows only, the delta aggregate shrinks to
    touched partkeys, and the MV apply joins stale-MV rows against
    that small delta (at 100 TB: a keyed merge of |touched keys|
    rows, via K2, never a corpus rescan). The fact rollup (the stored
    base table in production) is persisted once (_mv_fact), so the
    lineitem parquet is scanned exactly once per session."""
    fact = _mv_fact(spark, sf_dir)
    base = fact.filter(F.col("l_orderkey") % 3 == 0)
    updates = base.filter(F.col("l_orderkey") % 9 == 0).select(
        "l_orderkey",
        "l_partkey",
        (F.col("qty") + _MV_QTY_BUMP).alias("qty"),
        (F.col("price_cents") + _MV_PRICE_BUMP_CENTS).alias("price_cents"),
    )
    inserts = fact.filter(F.col("l_orderkey") % 3 == 1)

    # The stale MV (exists already in production; seeded here once).
    mv = base.groupBy("l_partkey").agg(
        F.count("*").alias("n_facts"),
        F.sum("qty").alias("sum_qty"),
        F.sum("price_cents").alias("sum_price_cents"),
    )

    # CDF → signed per-partkey delta: the ONLY input to the refresh.
    cdf = merge_cdf(
        base, updates.unionByName(inserts), keys=["l_orderkey", "l_partkey"]
    )
    sign = F.when(F.col("_change_type") == "update_preimage", F.lit(-1)).otherwise(
        F.lit(1)
    )
    delta = cdf.groupBy("l_partkey").agg(
        F.sum(sign).alias("d_n"),
        F.sum(sign * F.col("qty")).alias("d_qty"),
        F.sum(sign * F.col("price_cents")).alias("d_price"),
    )

    def _add(a: str, b: str) -> F.Column:
        return F.coalesce(F.col(a), F.lit(0)) + F.coalesce(F.col(b), F.lit(0))

    refreshed = mv.join(delta, "l_partkey", "full_outer").select(
        "l_partkey",
        _add("n_facts", "d_n").alias("n_facts"),
        _add("sum_qty", "d_qty").alias("sum_qty"),
        _add("sum_price_cents", "d_price").alias("sum_price_cents"),
    )
    # A delta that zeroes a group would leave an empty shell row;
    # deletes aren't in this batch, but the guard is part of the
    # refresh algebra (and a no-op here, matching the oracle).
    return refreshed.filter(F.col("n_facts") > 0)


# --------------------------------------------------------------------------
# Bounded k-hop BFS over the co-purchase graph
# --------------------------------------------------------------------------
_KHOP_K = 3
_KHOP_SEED_MOD = 97


def _sql_khop() -> str:
    return f"""
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    seeds AS (
      SELECT DISTINCT l_partkey FROM items
      WHERE l_partkey % {_KHOP_SEED_MOD} = 0
    ),
    r AS (
      SELECT l_partkey, 0 AS d FROM seeds
      UNION
      SELECT e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.l_partkey
      WHERE r.d < {_KHOP_K}
    )
    SELECT l_partkey, CAST(MIN(d) AS INTEGER) AS dist FROM r GROUP BY 1
    """


@register(
    "copurchase_khop_distance",
    oracle=_sql_khop(),
    tags=("graph", "bfs", "iterative", "J5"),
)
def copurchase_khop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source k-hop BFS: shortest hop-distance (<= {K}) from the
    seed parts (partkey ≡ 0 mod {M}) through the co-purchase graph —
    the iterative-join traversal class (k rounds of relax-then-min),
    distinct from copurchase_pagerank's value iteration and the dedup
    lane's component contraction. The oracle is a bounded recursive
    CTE over (part, d) states, so the hash pins every reachable part
    AND its exact BFS distance.

    Scale: edges come from the per-order sorted-array pair expansion
    (the basket_cooccurrence_lift plan — fanout bounded by basket
    size, no self-join), symmetrized and deduplicated once, then each
    of the k rounds is one hash join frontier×edges partitioned on
    part key plus a min-aggregate — the textbook Pregel superstep as
    DataFrame ops. k is a constant (plan depth bounded); the frontier
    never exceeds |V|. At 100 TB the joins shuffle on the part key
    and AQE handles hub-part skew; for web-scale graphs the same loop
    runs over a bucketed edge table, shuffle-free."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    half = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    vertices = baskets.select(F.explode("parts").alias("l_partkey")).distinct()
    dist = vertices.filter(F.col("l_partkey") % _KHOP_SEED_MOD == 0).select(
        "l_partkey", F.lit(0).alias("d")
    )
    for _ in range(_KHOP_K):
        hop = (
            dist.join(edges, dist.l_partkey == edges.src)
            .select(F.col("dst").alias("l_partkey"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("l_partkey")
            .agg(F.min("d").alias("d"))
        )
    return dist.select("l_partkey", F.col("d").cast("int").alias("dist"))


copurchase_khop_distance.__doc__ = copurchase_khop_distance.__doc__.format(
    K=_KHOP_K, M=_KHOP_SEED_MOD
)


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# --------------------------------------------------------------------------
_K_ANON = 5
_BAL_BAND_CENTS = 100_000  # 1000 currency units per band


def _sql_k_anonymity() -> str:
    band = (
        f"CAST(FLOOR(({sql_cents('c_acctbal')}) * 1.0 / {_BAL_BAND_CENTS}) AS BIGINT)"
    )
    return f"""
    SELECT c_nationkey, c_mktsegment,
           {band} AS bal_band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (COUNT(*) >= {_K_ANON}) AS k_anonymous,
           1.0 / COUNT(*) AS reident_risk
    FROM customer
    GROUP BY 1, 2, 3
    """


@register(
    "customer_k_anonymity",
    oracle=_sql_k_anonymity(),
    tags=("privacy", "k-anonymity", "A5", "quality"),
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group customers by their quasi-identifier
    tuple (nation, market segment, 1000-unit balance band) and flag
    every group smaller than k={K} — those rows are re-identifiable
    and must be suppressed or generalized before the table ships as
    training data. Complements docs_pii_scrub (which redacts direct
    identifiers; k-anonymity is about indirect ones). NULL QIDs form
    their own group on both engines (GROUP BY keeps NULL).

    The band is computed on exact integer cents (FLOOR of an exact-
    in-double quotient, so negative balances band correctly — integer
    division would truncate toward zero and disagree across engines).

    Scale: one map-side-combinable aggregate over the QID tuple —
    a single shuffle whose cardinality is the QID-combination count,
    not the row count. At 100 TB this is the cheapest shape in the
    engine; skewed QID combos (one giant nation×segment cell) only
    concentrate combiner output, not raw rows."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(
        cents(F.col("c_acctbal")) * F.lit(1.0) / F.lit(_BAL_BAND_CENTS)
    ).cast("long")
    return (
        c.groupBy("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .agg(F.count("*").alias("n_rows"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "n_rows",
            (F.col("n_rows") >= _K_ANON).alias("k_anonymous"),
            (F.lit(1.0) / F.col("n_rows")).alias("reident_risk"),
        )
    )


customer_k_anonymity.__doc__ = customer_k_anonymity.__doc__.format(K=_K_ANON)


# --------------------------------------------------------------------------
# Re-aggregable rollup cascade (hourly -> daily -> weekly)
# --------------------------------------------------------------------------
# Sufficient statistics (n, sum, sum of squares, min, max) over exact
# integer cents merge associatively, so each tier aggregates the tier
# below it — never the raw events. The oracle computes the weekly tier
# STRAIGHT from raw rows with token-identical float expressions, so
# hash equality proves the cascade is lossless (the hypertable /
# continuous-aggregate invariant).


def _sql_rollup_cascade() -> str:
    vc = "CAST(round(value * 100) AS BIGINT)"
    return f"""
    WITH w AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
             CAST(COUNT(value) AS BIGINT) AS n,
             CAST(SUM({vc}) AS BIGINT) AS sum_c,
             CAST(SUM({vc} * {vc}) AS BIGINT) AS sum_sq,
             MIN({vc}) AS min_c, MAX({vc}) AS max_c
      FROM events GROUP BY 1
    )
    SELECT week_start, n,
           CASE WHEN n > 0
                THEN CAST(sum_c AS DOUBLE) / n / 100.0 END AS mean_value,
           CASE WHEN n > 1
                THEN SQRT(GREATEST(
                       (CAST(sum_sq AS DOUBLE)
                        - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n)
                       / (n - 1), 0.0)) / 100.0 END AS stddev_value,
           min_c / 100.0 AS min_value,
           max_c / 100.0 AS max_value
    FROM w
    """


@register(
    "events_rollup_cascade",
    oracle=_sql_rollup_cascade(),
    tags=("window-agg", "rollup-cascade", "hypertable", "A5"),
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup cascade: hourly sufficient statistics from
    raw events, daily merged FROM HOURLY, weekly merged FROM DAILY —
    raw rows are touched exactly once. The emitted weekly mean/stddev
    derive from the cascaded moments with float expressions token-
    identical to the oracle's direct-from-raw computation, so the hash
    proves re-aggregability (count/sum/sum-of-squares/min/max merge
    associatively; stddev does not, which is why the cascade carries
    moments and only materializes stddev at the edge).

    Scale: this is how 100 TB of telemetry serves dashboards — each
    tier is ~3 orders of magnitude smaller than the one below, the
    hourly aggregate is the only exchange proportional to the data,
    and every tier is map-side combinable. Buckets are built from NTZ
    components (make_timestamp_ntz / to_date / dayofweek), wall-clock-
    pure under any session timezone. ISO weeks start Monday on both
    engines (date_trunc('week') in DuckDB; the dayofweek offset here)."""
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    hour = F.expr(
        "make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)"
    )
    hourly = ev.groupBy(hour.alias("hour_ts")).agg(
        F.count("value").alias("n"),
        F.sum(vc).alias("sum_c"),
        F.sum(vc * vc).alias("sum_sq"),
        F.min(vc).alias("min_c"),
        F.max(vc).alias("max_c"),
    )
    daily = hourly.groupBy(F.to_date("hour_ts").alias("day")).agg(
        F.sum("n").alias("n"),
        F.sum("sum_c").alias("sum_c"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_c").alias("min_c"),
        F.max("max_c").alias("max_c"),
    )
    week = F.date_sub(F.col("day"), (F.dayofweek(F.col("day")) + 5) % 7)
    weekly = daily.groupBy(week.alias("week_start")).agg(
        F.sum("n").alias("n"),
        F.sum("sum_c").alias("sum_c"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_c").alias("min_c"),
        F.max("max_c").alias("max_c"),
    )
    n = F.col("n")
    sum_c = F.col("sum_c").cast("double")
    sum_sq = F.col("sum_sq").cast("double")
    var_c2 = (sum_sq - sum_c * sum_c / n) / (n - 1)
    return weekly.select(
        "week_start",
        "n",
        F.when(n > 0, sum_c / n / F.lit(100.0)).alias("mean_value"),
        F.when(n > 1, F.sqrt(F.greatest(var_c2, F.lit(0.0))) / F.lit(100.0)).alias(
            "stddev_value"
        ),
        (F.col("min_c") / F.lit(100.0)).alias("min_value"),
        (F.col("max_c") / F.lit(100.0)).alias("max_value"),
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# --------------------------------------------------------------------------
# Pre-period split: the first half of the events window. Variant = user
# parity (a deterministic stand-in for the assignment column a real
# experiment logs). All moments are exact integer cents; theta and the
# adjusted means materialize as doubles through expressions spelled
# token-identically in both engines.
_CUPED_SPLIT = "2024-01-16 00:00:00"


def _sql_cuped() -> str:
    vc = "CAST(round(value * 100) AS BIGINT)"
    return f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN ts <  TIMESTAMP '{_CUPED_SPLIT}'
                                    THEN {vc} END), 0) AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                                    THEN {vc} END), 0) AS BIGINT) AS y
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM per_user
    ),
    theta AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS xbar,
             CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n = 0
                  THEN 0.0
                  ELSE (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                       / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
             END AS th
      FROM mom
    ),
    var_agg AS (
      SELECT user_id % 2 AS variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS sx_v, CAST(SUM(y) AS BIGINT) AS sy_v
      FROM per_user GROUP BY 1
    )
    SELECT v.variant, v.n_users,
           CAST(v.sy_v AS DOUBLE) / v.n_users / 100.0 AS mean_post,
           (CAST(v.sy_v AS DOUBLE)
            - t.th * (CAST(v.sx_v AS DOUBLE) - v.n_users * t.xbar))
             / v.n_users / 100.0 AS mean_adjusted
    FROM var_agg v CROSS JOIN theta t
    """


@register(
    "variant_cuped_adjusted",
    oracle=_sql_cuped(),
    tags=("experiment", "cuped", "variance-reduction", "A5"),
)
def variant_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED experiment readout (Deng et al., WSDM'13): per-variant
    post-period means adjusted by the pre-period covariate —
    adj_i = y_i - θ·(x_i - x̄) with θ = cov(x,y)/var(x) pooled across
    variants — the standard variance-reduction step before an A/B
    verdict. θ = 0 when var(x) = 0 (every user's pre-period sum equal):
    x_i - x̄ is then 0 for everyone, so the adjusted mean is the plain
    post-period mean. Per-user pre/post sums are exact integer cents;
    θ, x̄ and the adjusted means materialize as doubles through
    expressions token-identical to the oracle's, so the hash is
    bit-exact.

    Scale: one conditional aggregate per user (single shuffle on
    user_id, map-side combinable), a 5-long-column global moment
    reduce (one row), a per-variant aggregate over the per-user frame
    (reused subtree), and a broadcast of the scalar θ row. Nothing is
    ever quadratic, nothing collects to the driver; at 1000 executors
    the per-user frame partitions on user_id and everything downstream
    is a rounding error next to the scan."""
    split = F.expr(f"TIMESTAMP_NTZ '{_CUPED_SPLIT}'")
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    vc = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < split, vc)), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= split, vc)), F.lit(0)).alias("y"),
    )
    mom = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    sx, sy = F.col("sx").cast("double"), F.col("sy")
    var_x = F.col("sxx").cast("double") - sx * F.col("sx") / F.col("n")
    theta = mom.select(
        "n",
        (sx / F.col("n")).alias("xbar"),
        F.when(var_x == 0, F.lit(0.0))
        .otherwise((F.col("sxy").cast("double") - sx * sy / F.col("n")) / var_x)
        .alias("th"),
    )
    var_agg = per_user.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sx_v"),
        F.sum("y").alias("sy_v"),
    )
    out = var_agg.crossJoin(F.broadcast(theta))
    return out.select(
        "variant",
        "n_users",
        (F.col("sy_v").cast("double") / F.col("n_users") / F.lit(100.0)).alias(
            "mean_post"
        ),
        (
            (
                F.col("sy_v").cast("double")
                - F.col("th")
                * (F.col("sx_v").cast("double") - F.col("n_users") * F.col("xbar"))
            )
            / F.col("n_users")
            / F.lit(100.0)
        ).alias("mean_adjusted"),
    )


# --------------------------------------------------------------------------
# Late-arrival audit (streaming-ops: what would a watermark drop?)
# --------------------------------------------------------------------------
# Lateness of each event = high-water-mark of event time over everything
# that ARRIVED before it (arrival order = event_id, the ingest sequence)
# minus its own event time — exactly the quantity a Structured Streaming
# watermark trades off. The audit rolls the distribution into bands so
# an operator can pick `withWatermark` delay from data, not folklore.
_LATE_BUCKETS = 16
_LATE_BLOCK = 16  # simulated ingest: reversed 16-event micro-batches
_LATE_BANDS_S = ((0, "on-time"), (60, "<=1m"), (300, "<=5m"),
                 (900, "<=15m"), (3600, "<=1h"))


def _sql_late_bands() -> str:
    return f"""
    WITH seq AS (
      SELECT ts,
             MAX(ts) OVER (ORDER BY (event_id // {_LATE_BLOCK}) * {_LATE_BLOCK}
                                    + ({_LATE_BLOCK - 1} - event_id % {_LATE_BLOCK})
                           ROWS UNBOUNDED PRECEDING) AS hwm
      FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
    ),
    lat AS (
      SELECT date_diff('microsecond', ts, hwm) // 1000000 AS late_s
      FROM seq
    ),
    banded AS (
      SELECT CASE WHEN late_s <= 0 THEN 'on-time'
                  WHEN late_s <= 60 THEN '<=1m'
                  WHEN late_s <= 300 THEN '<=5m'
                  WHEN late_s <= 900 THEN '<=15m'
                  WHEN late_s <= 3600 THEN '<=1h'
                  ELSE '>1h' END AS band,
             late_s
      FROM lat
    )
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s,
           CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM banded) AS share
    FROM banded GROUP BY 1
    """


@register(
    "events_late_arrival_audit",
    oracle=_sql_late_bands(),
    tags=("streaming-ops", "watermark", "two-phase", "global-window"),
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-design audit: per-event lateness (event-time high-water
    mark at arrival minus own event time) banded into
    on-time / <=1m / <=5m / <=15m / <=1h / >1h with counts,
    shares and band maxima — the empirical basis for choosing a
    `withWatermark` delay (T2/T3's lookback is the batch analog;
    reference src/etl/postgres_sync.py:180-206 picks its trailing window the same
    way, by assumed max lateness). The testdata files are event-time-
    sorted (a real deployment passes its ingest-sequence column), so
    the arrival order here is a SIMULATED bounded-disorder ingest:
    _LATE_BLOCK-event micro-batches replayed in reverse — a
    deterministic permutation of event_id, identical in the oracle.

    The naive plan is MAX(ts) OVER (ORDER BY event_id) — a single-
    partition global window. This is the two-phase shape instead (the
    docs_token_budget_select trick, with MAX for the merge): range-
    repartition by event_id, per-partition running max, tiny per-
    partition maxima prefix-combined and broadcast back as offsets
    (GREATEST of the two phases; running max is partition-boundary-
    independent, so the sampled range bounds never change the answer).
    The oracle IS the naive global window — the plans must agree
    row-for-row before the band rollup.

    Scale: one range exchange over (event_id, ts, type), one window
    per partition, a |buckets|-row prefix, a broadcast join, then a
    6-group aggregate. Lateness is computed in NTZ microseconds
    (timestampdiff), wall-clock-pure under any session timezone."""
    from pyspark.sql import Window

    arrival = (F.col("event_id") / _LATE_BLOCK).cast("long") * _LATE_BLOCK + (
        F.lit(_LATE_BLOCK - 1) - F.col("event_id") % _LATE_BLOCK
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(arrival.alias("arrival"), "ts")
    )
    ranged = ev.repartitionByRange(_LATE_BUCKETS, F.asc("arrival")).withColumn(
        "pid", F.spark_partition_id()
    )
    pmax = ranged.groupBy("pid").agg(F.max("ts").alias("ptop"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = pmax.select("pid", F.max("ptop").over(woff).alias("off"))
    win = (
        Window.partitionBy("pid")
        .orderBy("arrival")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hwm = F.greatest(F.max("ts").over(win), F.col("off"))
    lat = (
        ranged.join(F.broadcast(offsets), "pid")
        .withColumn("hwm", hwm)
        .select(
            (
                F.expr("timestampdiff(MICROSECOND, ts, hwm)") / F.lit(1_000_000)
            ).cast("long").alias("late_s")
        )
    )
    band = F.lit(">1h")
    for cutoff, label in reversed(_LATE_BANDS_S):
        band = F.when(F.col("late_s") <= cutoff, F.lit(label)).otherwise(band)
    banded = lat.select(band.alias("band"), "late_s")
    tot = banded.agg(F.count("*").alias("tot"))
    return (
        banded.groupBy("band")
        .agg(F.count("*").alias("n"), F.max("late_s").alias("max_late_s"))
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n",
            "max_late_s",
            (F.col("n").cast("double") / F.col("tot")).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Survival analysis: user-retention life table
# --------------------------------------------------------------------------
# Churn = the first inactivity gap longer than _CHURN_GAP_H hours: the
# user "dies" at the event that OPENS the gap; a user with no such gap
# is right-censored at their last event (their true lifetime exceeds
# what we observed — counting the censored as deaths is THE classic
# retention-analysis mistake this query exists to avoid). Duration =
# whole days from the user's first event.
_CHURN_GAP_H = 48


def _sql_lifetable() -> str:
    gap_us = _CHURN_GAP_H * 3600 * 1_000_000
    return f"""
    WITH seq AS (
      SELECT user_id, ts,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    per_user AS (
      SELECT user_id,
             MIN(ts) AS first_ts,
             MAX(ts) AS last_ts,
             MIN(CASE WHEN next_ts IS NOT NULL
                       AND date_diff('microsecond', ts, next_ts) > {gap_us}
                      THEN ts END) AS death_ts
      FROM seq GROUP BY 1
    ),
    lifetimes AS (
      SELECT date_diff('microsecond', first_ts,
                       COALESCE(death_ts, last_ts)) // 86400000000 AS day,
             (death_ts IS NULL) AS censored
      FROM per_user
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lifetimes),
    per_day AS (
      SELECT day,
             CAST(COUNT(*) FILTER (WHERE NOT censored) AS BIGINT) AS n_deaths,
             CAST(COUNT(*) FILTER (WHERE censored) AS BIGINT) AS n_censored
      FROM lifetimes GROUP BY 1
    ),
    risk AS (
      SELECT day, n_deaths, n_censored,
             t.n_total - CAST(COALESCE(SUM(n_deaths + n_censored) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS n_at_risk
      FROM per_day CROSS JOIN tot t
    )
    SELECT day, n_at_risk, n_deaths, n_censored,
           CAST(n_deaths AS DOUBLE) / n_at_risk AS hazard
    FROM risk
    """


@register(
    "user_survival_lifetable",
    oracle=_sql_lifetable(),
    tags=("survival", "retention", "life-table", "A5"),
)
def user_survival_lifetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-censored retention life table under a churn-by-inactivity
    definition (death = the event opening the first gap > _CHURN_GAP_H
    hours; no such gap = right-censored at last activity): per observed
    lifetime day, the users still at risk, the deaths, the censored
    exits, and the discrete hazard d_t / n_t. The Kaplan-Meier curve is
    the running product of (1 - hazard); the table emits exact-integer
    numerators and denominators and the single-division hazard so the
    float is bit-identical across engines (a chained product would
    compound libm differences).

    Scale: one per-user LEAD window (partitioned on user_id — the gap
    scan shuffles the corpus once on the user key and needs no global
    order), one user-keyed aggregate on the same partitioning (reused
    exchange), then everything lives at DAY grain — the at-risk
    cumulative window is ordered over ~tens of rows (the observation
    horizon), not users, so the unpartitioned window is bounded by the
    calendar, never the data."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    wlead = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _CHURN_GAP_H * 3600 * 1_000_000
    seq = ev.select(
        "user_id", "ts", F.lead("ts").over(wlead).alias("next_ts")
    )
    opens_gap = F.col("next_ts").isNotNull() & (
        F.expr("timestampdiff(MICROSECOND, ts, next_ts)") > gap_us
    )
    per_user = seq.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(opens_gap, F.col("ts"))).alias("death_ts"),
    )
    lifetimes = per_user.select(
        F.expr(
            "timestampdiff(MICROSECOND, first_ts, coalesce(death_ts, last_ts))"
            " DIV 86400000000"
        ).alias("day"),
        F.col("death_ts").isNull().alias("censored"),
    )
    tot = lifetimes.agg(F.count("*").alias("n_total"))
    per_day = lifetimes.groupBy("day").agg(
        F.count_if(~F.col("censored")).alias("n_deaths"),
        F.count_if(F.col("censored")).alias("n_censored"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        per_day.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("n_deaths") + F.col("n_censored")).over(w), F.lit(0)
            ),
        )
    )
    return risk.select(
        "day",
        "n_at_risk",
        "n_deaths",
        "n_censored",
        (F.col("n_deaths").cast("double") / F.col("n_at_risk")).alias("hazard"),
    )


# --------------------------------------------------------------------------
# Streaming late-data DROP semantics (append-mode windowed aggregation)
# --------------------------------------------------------------------------
# The one streaming semantic the complete-mode twins cannot see: with
# outputMode("append") + withWatermark, late rows are DROPPED and only
# watermark-finalized windows ever emit. The micro-batch arrival order
# is made deterministic (shard b = event_id % K, one file per shard,
# strictly increasing mtimes, maxFilesPerTrigger=1), so the runtime's
# drop/emit decisions are a pure function the oracle can spell.
#
# Calibrated empirically on Spark 4.1 (tests/test_round13.py pins it):
#   - per-batch event-time stats are MILLISECOND-floored maxima;
#   - the late filter of batch b uses the cumulative stats of batches
#     <= b-2 (one batch MORE of lag than the eviction watermark — the
#     planned watermark is written to the offset log before the
#     previous batch commits its stats);
#   - drop is INCLUSIVE: window_end <= filter_wm;
#   - final emission (the no-data micro-batch after the last file,
#     noDataMicroBatches default-on) is INCLUSIVE: window_end <=
#     max(all batch stats) - delay.
_LATE_DROP_SHARDS = 4
# Calibrated against Spark 4.1.2 (pyspark.__version__ at calibration
# time). The ms-floor / two-batch-lag / inclusive-boundary constants
# above encode that version's micro-batch watermark bookkeeping; on a
# Spark upgrade the hand fixture in tests/test_round13.py is the
# canonical failure signal and recalibration entry point (ADVICE r7).
_LATE_DROP_DELAY_MS = 2 * 3600 * 1000  # withWatermark("ts", "2 hours")


def _sql_late_drop() -> str:
    k, d = _LATE_DROP_SHARDS, _LATE_DROP_DELAY_MS
    return f"""
    WITH e AS (
      SELECT event_id % {k} AS b,
             CAST(round(value * 100) AS BIGINT) AS vc,
             epoch_us(ts) AS ts_us,
             time_bucket(INTERVAL '1 hour', ts) AS wstart,
             epoch_us(time_bucket(INTERVAL '1 hour', ts)
                      + INTERVAL '1 hour') AS wend_us
      FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
    ),
    bstats AS (SELECT b, MAX(ts_us // 1000) AS mx_ms FROM e GROUP BY 1),
    fwm AS (
      SELECT b,
             (MAX(mx_ms) OVER (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
              - {d}) * 1000 AS filter_wm_us
      FROM bstats
    ),
    fin AS (SELECT (MAX(mx_ms) - {d}) * 1000 AS final_wm_us FROM bstats),
    kept AS (
      SELECT e.* FROM e JOIN fwm USING (b)
      WHERE fwm.filter_wm_us IS NULL OR e.wend_us > fwm.filter_wm_us
    )
    SELECT wstart AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           (SUM(vc) / 100.0) AS sum_value
    FROM kept, fin
    WHERE wend_us <= fin.final_wm_us
    GROUP BY 1
    """


@register(
    "streaming_late_drop_counts",
    oracle=_sql_late_drop(),
    tags=("streaming", "watermark", "late-data", "append-mode"),
    bench=True,
)
def streaming_late_drop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermarked windowed aggregation with REAL late-data
    drops: the feed replays as {K} deterministic micro-batches
    (shard = event_id mod {K}, one file per trigger, mtime-ordered), a
    2-hour watermark filters stragglers, and ONLY finalized windows
    emit. The oracle reproduces the runtime's exact drop/emit algebra
    (ms-floored per-batch maxima, two-batch filter lag, inclusive
    boundaries — see the module comment), so the hash pins the subtlest
    Structured Streaming behavior: WHICH rows a watermark sacrifices
    and WHEN a window is declared closed. Complements
    events_late_arrival_audit (the batch audit that picks the delay)
    and the complete-mode twins (which keep all state and drop
    nothing).

    Scale: identical runtime plan to streaming_hourly_counts — file
    source, one state-store exchange keyed on the window, map-side
    partial aggregation per micro-batch; state is BOUNDED by the
    watermark (evicted windows leave the store), which is the entire
    point of append mode at 100 TB/day."""
    import os
    import shutil
    import uuid

    from .pipeline_queries import _stream_partitions, record_stream_plan
    from ..streaming.incremental import stream_events

    ev0 = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    # The shard feed is deterministic per (session, sf_dir): cache it
    # like compressed_io_roundtrip._staging_dir so the parity matrices
    # and repeated bench drives don't accumulate /tmp dirs (ADVICE r7).
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    feed = streaming_late_drop_counts._feed_dirs.get(cache_key)
    if feed is None or not os.path.isdir(feed):
        feed = tempfile.mkdtemp(prefix="pse_latedrop_feed_")
        for b in range(_LATE_DROP_SHARDS):
            tmp = tempfile.mkdtemp(prefix="pse_latedrop_shard_")
            (
                ev0.filter(F.col("event_id") % _LATE_DROP_SHARDS == b)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = next(
                f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
            )
            dst = os.path.join(feed, f"batch_{b:03d}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (1_700_000_000 + b * 100,) * 2)
        streaming_late_drop_counts._feed_dirs[cache_key] = feed

    events = stream_events(spark, feed, max_files_per_trigger=1)
    vc = F.round(F.col("value") * 100).cast("long")
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"), (F.sum(vc) / 100.0).alias("sum_value"))
    )
    name = f"late_drop_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            record_stream_plan(q)
        finally:
            q.stop()
    out = spark.table(name)
    wstart = F.expr(
        "timestampadd(MICROSECOND, unix_micros(win.start), "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )
    return out.select(wstart.alias("window_start"), "n", "sum_value")


streaming_late_drop_counts.__doc__ = streaming_late_drop_counts.__doc__.format(
    K=_LATE_DROP_SHARDS
)
streaming_late_drop_counts._feed_dirs = {}


# --------------------------------------------------------------------------
# Continuous-aggregate increment: merge a crawl shard into the cascade
# --------------------------------------------------------------------------
# The increment member of the rollup story (and the fifth member of the
# crawl-increment family next to MinHash / SimHash / IVF-PQ / exact-
# segment): the standing corpus (event_id % 8 != 0) already owns
# hourly/daily/weekly tiers; the new shard (event_id % 8 == 0) must
# fold in WITHOUT re-aggregating the standing rows — hourly moments
# merge associatively, then only the shard's AFFECTED days and weeks
# recompute from the tier below. The oracle is the full-corpus weekly
# recompute, so hash equality proves tier reuse loses nothing.
_CASCADE_SHARD_MOD = 8


def _moments_by(df: DataFrame, key) -> DataFrame:
    vc = F.round(F.col("value") * 100).cast("long")
    return df.groupBy(key).agg(
        F.count("value").alias("n"),
        F.sum(vc).alias("sum_c"),
        F.sum(vc * vc).alias("sum_sq"),
        F.min(vc).alias("min_c"),
        F.max(vc).alias("max_c"),
    )


def _merge_moments(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """Associative merge of two sufficient-statistics tiers keyed on
    `key` (full outer, null-safe adds, null-skipping min/max)."""

    def add(col: str) -> F.Column:
        return F.coalesce(F.col(f"a_{col}"), F.lit(0)) + F.coalesce(
            F.col(f"b_{col}"), F.lit(0)
        )

    aa = a.select(F.col(key), *[F.col(c).alias(f"a_{c}") for c in a.columns if c != key])
    bb = b.select(F.col(key), *[F.col(c).alias(f"b_{c}") for c in b.columns if c != key])
    return aa.join(bb, key, "full_outer").select(
        key,
        add("n").alias("n"),
        add("sum_c").alias("sum_c"),
        add("sum_sq").alias("sum_sq"),
        F.least("a_min_c", "b_min_c").alias("min_c"),
        F.greatest("a_max_c", "b_max_c").alias("max_c"),
    )


def _tier_rollup(df: DataFrame, key) -> DataFrame:
    """Aggregate a moments tier one level up (hour→day or day→week)."""
    return df.groupBy(key).agg(
        F.sum("n").alias("n"),
        F.sum("sum_c").alias("sum_c"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_c").alias("min_c"),
        F.max("max_c").alias("max_c"),
    )


def _weekly_stats(weekly: DataFrame) -> DataFrame:
    n = F.col("n")
    sum_c = F.col("sum_c").cast("double")
    sum_sq = F.col("sum_sq").cast("double")
    var_c2 = (sum_sq - sum_c * sum_c / n) / (n - 1)
    return weekly.select(
        "week_start",
        "n",
        F.when(n > 0, sum_c / n / F.lit(100.0)).alias("mean_value"),
        F.when(n > 1, F.sqrt(F.greatest(var_c2, F.lit(0.0))) / F.lit(100.0)).alias(
            "stddev_value"
        ),
        (F.col("min_c") / F.lit(100.0)).alias("min_value"),
        (F.col("max_c") / F.lit(100.0)).alias("max_value"),
    )


def _sql_cascade_increment() -> str:
    vc = "CAST(round(value * 100) AS BIGINT)"
    return f"""
    WITH w AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
             CAST(COUNT(value) AS BIGINT) AS n,
             CAST(SUM({vc}) AS BIGINT) AS sum_c,
             CAST(SUM({vc} * {vc}) AS BIGINT) AS sum_sq,
             MIN({vc}) AS min_c, MAX({vc}) AS max_c
      FROM events
      WHERE ts IS NOT NULL AND event_id IS NOT NULL
      GROUP BY 1
    )
    SELECT week_start, n,
           CASE WHEN n > 0
                THEN CAST(sum_c AS DOUBLE) / n / 100.0 END AS mean_value,
           CASE WHEN n > 1
                THEN SQRT(GREATEST(
                       (CAST(sum_sq AS DOUBLE)
                        - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n)
                       / (n - 1), 0.0)) / 100.0 END AS stddev_value,
           min_c / 100.0 AS min_value,
           max_c / 100.0 AS max_value
    FROM w
    """


@register(
    "events_cascade_increment",
    oracle=_sql_cascade_increment(),
    tags=("window-agg", "rollup-cascade", "incremental", "hypertable"),
    bench=True,
)
def events_cascade_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate INCREMENT (TimescaleDB-style refresh): the
    standing corpus's hourly/daily/weekly moment tiers absorb a new
    crawl shard by (1) merging shard hourly moments into the stored
    hourly tier (associative full-outer add — _merge_moments), then
    (2) recomputing ONLY the shard's affected days from the merged
    hourly tier and (3) only the affected weeks from the merged daily
    tier; untouched days/weeks are carried from the standing tiers
    verbatim. The oracle recomputes weekly stats from the FULL corpus,
    so hash equality proves the reuse paths lose nothing — the fifth
    member of the crawl-increment family (MinHash / SimHash / IVF-PQ /
    exact-segment / rollup).

    Scale: per-refresh cost ∝ shard size + touched buckets — the
    standing corpus is never rescanned (its tiers are the stored
    state; seeded here once for self-containedness), the affected-day
    and affected-week key sets are tiny and broadcast to route carried
    vs recomputed rows (left_anti / left_semi), and every merge is a
    keyed join at bucket grain, 3+ orders of magnitude below row
    grain. NULL event-time rows are excluded on both engines (same
    contract as the streaming twin: a bucketless row cannot join a
    tier)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    hour = F.expr("make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)")
    standing = ev.filter(F.col("event_id") % _CASCADE_SHARD_MOD != 0)
    shard = ev.filter(F.col("event_id") % _CASCADE_SHARD_MOD == 0)

    # Stored state (production: read from the rollup tables).
    h_old = _moments_by(standing, hour.alias("hour_ts"))
    d_old = _tier_rollup(h_old, F.to_date("hour_ts").alias("day"))
    week = F.date_sub(F.col("day"), (F.dayofweek(F.col("day")) + 5) % 7)
    w_old = _tier_rollup(d_old, week.alias("week_start"))

    # (1) hourly merge: shard moments fold into the stored tier.
    h_delta = _moments_by(shard, hour.alias("hour_ts"))
    h_new = _merge_moments(h_old, h_delta, "hour_ts")

    # (2) recompute affected days from the merged hourly tier; carry
    # the rest of the stored daily tier untouched.
    affected_days = h_delta.select(
        F.to_date("hour_ts").alias("day")
    ).distinct()
    d_recomp = _tier_rollup(
        h_new.join(
            F.broadcast(affected_days),
            F.to_date("hour_ts") == F.col("day"),
            "left_semi",
        ),
        F.to_date("hour_ts").alias("day"),
    )
    d_carried = d_old.join(F.broadcast(affected_days), "day", "left_anti")
    d_new = d_carried.unionByName(d_recomp)

    # (3) same one tier up: affected weeks from affected days.
    affected_weeks = affected_days.select(week.alias("week_start")).distinct()
    w_recomp = _tier_rollup(
        d_new.join(
            F.broadcast(affected_weeks),
            week == F.col("week_start"),
            "left_semi",
        ),
        week.alias("week_start"),
    )
    w_carried = w_old.join(F.broadcast(affected_weeks), "week_start", "left_anti")
    return _weekly_stats(w_carried.unionByName(w_recomp))


# --------------------------------------------------------------------------
# Recency-decayed heavy hitters (exact power-of-two half-life)
# --------------------------------------------------------------------------
# Exponential decay is the standard "what matters NOW" leaderboard, but
# double pow() is libm-dependent — so the decay here is a 1-week
# half-life evaluated as an INTEGER shift: weight(age) = 2^-age_weeks,
# applied as per-row floor division of exact cents. Both engines
# compute identical integers; the only float is the final /100.0.
_DECAY_WEEK_US = 7 * 86_400_000_000


def _sql_decayed_hitters() -> str:
    vc = "CAST(round(value * 100) AS BIGINT)"
    return f"""
    WITH anchor AS (
      SELECT MAX(ts) AS mx FROM events WHERE ts IS NOT NULL
    ),
    aged AS (
      SELECT event_type,
             {vc} AS vc,
             date_diff('microsecond', ts, a.mx) // {_DECAY_WEEK_US} AS age_w
      FROM events, anchor a
      WHERE ts IS NOT NULL
    ),
    scored AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(vc) AS BIGINT) AS raw_c,
             -- age clamp (ADVICE r7): beyond 62 weeks the shifted divisor
             -- would overflow BIGINT (DuckDB raises at >=64; Spark masks
             -- the shift count mod 64) — the true weight is 0 there
             -- anyway since 2^63 exceeds any cent total.
             CAST(SUM(CASE WHEN age_w > 62 THEN 0
                           ELSE vc // (CAST(1 AS BIGINT) << age_w)
                      END) AS BIGINT) AS dec_c
      FROM aged GROUP BY 1
    )
    SELECT event_type, n_events,
           raw_c / 100.0 AS raw_value,
           dec_c / 100.0 AS decayed_value,
           CAST(row_number() OVER (ORDER BY dec_c DESC, event_type)
                AS BIGINT) AS rnk
    FROM scored
    """


@register(
    "events_decayed_hitters",
    oracle=_sql_decayed_hitters(),
    tags=("heavy-hitters", "decay", "recency", "A5"),
)
def events_decayed_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted heavy hitters: per event type, total value and
    a 1-week-half-life decayed value (weight 2^-age_weeks, anchored at
    the corpus max event time), ranked by decayed engagement — the
    leaderboard shape that demotes stale volume. The decay is an exact
    integer shift-and-floor-divide on cents, NOT pow(): a double
    exponential would be libm-dependent across engines, where this is
    bit-identical by construction (cf. the life table's single-division
    hazard). NULL-event-time rows carry no age and are excluded on
    both engines.

    Scale: one scalar max (broadcast), one map-side-combinable
    aggregate over event_type — the same single-exchange shape as
    customer_k_anonymity; the rank window runs over |event types|
    rows. At 100 TB the decay weight is computed per row in
    whole-stage codegen, never a UDF."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    anchor = ev.agg(F.max("ts").alias("mx"))
    vc = F.round(F.col("value") * 100).cast("long")
    # shiftleft takes a literal bit count in the DataFrame API; the SQL
    # form accepts a column — DIV (trunc) == DuckDB's // (floor) here
    # because both operands are non-negative. Ages beyond 62 weeks clamp
    # to weight 0 (ADVICE r7): Spark masks shift counts mod 64 and the
    # 63-bit divisor goes negative, while the true weight is 0 anyway
    # since 2^63 exceeds any cent total.
    dec_vc = F.expr(
        "CASE WHEN age_w > 62 THEN CAST(0 AS BIGINT) "
        "ELSE vc DIV shiftleft(CAST(1 AS BIGINT), CAST(age_w AS INT)) END"
    )
    scored = (
        ev.crossJoin(F.broadcast(anchor))
        .withColumn("vc", vc)
        .withColumn(
            "age_w",
            F.expr(f"timestampdiff(MICROSECOND, ts, mx) DIV {_DECAY_WEEK_US}"),
        )
        .select("event_type", "vc", dec_vc.alias("dec_vc"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("vc").alias("raw_c"),
            F.sum("dec_vc").alias("dec_c"),
        )
    )
    w = Window.orderBy(F.desc("dec_c"), F.asc("event_type"))
    return scored.select(
        "event_type",
        "n_events",
        (F.col("raw_c") / F.lit(100.0)).alias("raw_value"),
        (F.col("dec_c") / F.lit(100.0)).alias("decayed_value"),
        F.row_number().over(w).cast("long").alias("rnk"),
    )


# --------------------------------------------------------------------------
# Multimodal: REAL compressed-image decode (PNG, stdlib zlib)
# --------------------------------------------------------------------------
@register(
    "multimodal_png_decode",
    # FULL hash oracle for the COMPRESSED image codec: the payload is a
    # genuine PNG (DEFLATE stream, CRC-verified chunks, and a scanline
    # filter that cycles None/Sub/Up/Average/Paeth by row) and the
    # decoder reconstructs every pixel. Channels are closed-form
    # integer lattices of (doc_id, x, y), so DuckDB recomputes the
    # aggregates without seeing a byte — if the unfilter math were
    # wrong for ANY filter type, sums would diverge (every doc has
    # >= 5 rows, so every doc exercises all five filters).
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             6 + d.doc_id % 5 AS w, 5 + d.doc_id % 4 AS h,
             ux.x AS x, uy.y AS y
      FROM documents d,
           UNNEST(range(0, 6 + d.doc_id % 5)) AS ux(x),
           UNNEST(range(0, 5 + d.doc_id % 4)) AS uy(y)
    )
    SELECT doc_id,
           CAST(MAX(w) AS BIGINT) AS width,
           CAST(MAX(h) AS BIGINT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM((doc_id + 3*x + 7*y) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((2*doc_id + 5*x + 11*y) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((3*doc_id + 13*x + 17*y) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "image", "compressed", "png"),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image modality with a REAL COMPRESSED codec: synthesize a
    truecolor PNG per document executor-side (stdlib zlib DEFLATE,
    CRC32 chunk framing, per-row filter cycling through the full
    None/Sub/Up/Average/Paeth suite), then decode it back — signature,
    chunk walk with CRC verification, inflate, five-filter scanline
    reconstruction — via Arrow-batched mapInPandas
    (operators/multimodal.py::parse_png). Upgrades the multimodal
    lane's compressed-format story from 'documented integration point'
    to a working codec; JPEG/MP4 remain the PIL/ffmpeg integration
    points.

    Scale: identical plumbing to the BMP/WAV/Y4M lanes — payload bytes
    live and die executor-side in Arrow batches; per-byte work happens
    in zlib's C inflate, not per-row Python."""
    from ..operators.multimodal import attach_png, decode_png

    docs = load_table(spark, sf_dir, "documents")
    return decode_png(attach_png(docs))


# --------------------------------------------------------------------------
# Streaming Python Data Source (PySpark 4 DataSourceStreamReader)
# --------------------------------------------------------------------------
@register(
    "datasource_stream_prices",
    # The same closed-form expected table as the batch DataSource scan
    # and the sync engine (_sql_sync_oracle): the UNION of the stream's
    # micro-batches must equal the one-shot scan bit-for-bit — a source
    # that dropped, duplicated or reordered a date window across offset
    # boundaries would diverge.
    oracle=None,  # set below: shared with pipeline_queries._sql_sync_oracle
    tags=("source", "datasource-api", "streaming"),
)
def datasource_stream_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python Data Source (PySpark 4
    DataSourceStreamReader): the exchange window replays as date-range
    micro-batches — offsets are replay cursors, each trigger reads one
    window, and partitions(start, end) fans out one InputPartition per
    symbol so every micro-batch is an executor-parallel scan
    (sources/pse_datasource.py::PseEdgeStreamReader). Completes the
    DataSource API surface next to the batch reader
    (datasource_price_scan): one format name serves spark.read AND
    spark.readStream.

    Scale: the offset cursor is O(1) driver state; per-batch work is
    the batch reader's partition fan-out. This is the shape for
    replaying a bounded history INTO a streaming pipeline (backfill
    through the same code path as live ingest — the lambda-architecture
    killer the reference's backfill/sync split approximates)."""
    import uuid

    from .pipeline_queries import _stream_partitions, record_stream_plan
    from ..sources import pse_datasource

    pse_datasource.register(spark)
    sdf = (
        spark.readStream.format("pse_edge_fake")
        .option("start", "2024-01-01")
        .option("end", "2024-01-31")
        .option("days_per_batch", "7")
        .load()
    )
    name = f"ds_stream_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        q = (
            sdf.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            record_stream_plan(q)
        finally:
            q.stop()
    return spark.table(name)


def _wire_stream_prices_oracle() -> None:
    import dataclasses

    from .pipeline_queries import _sql_sync_oracle
    from .registry import REGISTRY

    q = REGISTRY["datasource_stream_prices"]
    REGISTRY["datasource_stream_prices"] = dataclasses.replace(
        q, oracle=_sql_sync_oracle()
    )


_wire_stream_prices_oracle()


# --------------------------------------------------------------------------
# Compressed-I/O round-trip: gzip JSON-lines + zstd parquet
# --------------------------------------------------------------------------
@register(
    "compressed_io_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gz,
           CAST(COUNT(*) AS BIGINT) AS n_zstd,
           CAST(SUM(user_id) AS BIGINT) AS user_sum_gz,
           CAST(SUM(user_id) AS BIGINT) AS user_sum_zstd
    FROM events GROUP BY 1
    """,
    tags=("S4", "source", "compression", "gzip", "zstd"),
)
def compressed_io_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed staging round-trips, both directions of both codecs:
    the same events slice is written as GZIP JSON-lines (the crawl-
    dump interchange format) and ZSTD parquet (the 100 TB storage
    codec), read back through declared schemas, and aggregated from
    EACH path side-by-side — the oracle's twin columns prove neither
    codec dropped, duplicated, or mangled a row. Spark's native codec
    support does the work; the point is pinning that the engine's
    catalog path (read_json_dir, spark.read.parquet) composes with it.

    Scale: gzip is NOT splittable — one ~GB file = one task, so crawl
    dumps should land as many medium files (this writer keeps Spark's
    input partitioning); zstd parquet IS splittable at row-group
    grain and ~30% smaller than snappy at similar read cost, which is
    why it's the at-rest codec of choice."""
    import os

    from pyspark.sql import types as T

    from ..sources.catalog import read_json_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    tmp = getattr(compressed_io_roundtrip, "_staging_dir", None)
    if tmp is None:
        tmp = tempfile.mkdtemp(prefix="compressed_io_")
        compressed_io_roundtrip._staging_dir = tmp
    gz_dir = os.path.join(tmp, "gz_jsonl")
    zstd_dir = os.path.join(tmp, "zstd_parquet")
    ev.write.mode("overwrite").option("compression", "gzip").json(gz_dir)
    ev.write.mode("overwrite").option("compression", "zstd").parquet(zstd_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("user_id", T.LongType(), True),
        ]
    )
    gz = read_json_dir(spark, gz_dir, schema).groupBy("event_type").agg(
        F.count("*").alias("n_gz"), F.sum("user_id").alias("user_sum_gz")
    )
    # NULL-safe join: a NULL event_type forms a group on BOTH sides
    # (groupBy keeps it), and a plain full-outer equi-join would emit
    # TWO unmatched NULL-key rows where the oracle has one — caught by
    # the NULL-events matrix on its first sweep of this query.
    zs = spark.read.schema(schema).parquet(zstd_dir).groupBy(
        F.col("event_type").alias("et_z")
    ).agg(F.count("*").alias("n_zstd"), F.sum("user_id").alias("user_sum_zstd"))
    return gz.join(
        zs, F.col("event_type").eqNullSafe(F.col("et_z")), "full_outer"
    ).select(
        F.coalesce(F.col("event_type"), F.col("et_z")).alias("event_type"),
        "n_gz",
        "n_zstd",
        "user_sum_gz",
        "user_sum_zstd",
    )
