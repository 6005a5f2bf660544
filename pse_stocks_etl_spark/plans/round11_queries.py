"""Round-11 queries (the round-6 third batch): completing the TPC-H
shape sweep — the three shapes the registry still lacked.

- `min_cost_regional_supplier` (Q2): the correlated MIN-cost subquery
  over a supply catalog, decorrelated into a per-part window minimum.
  The testdata has no `partsupp`, so the supply catalog is DERIVED:
  per (part, supplier) the minimum observed line price in cents.
- `delay_band_priority_counts` (Q12): the CASE-sum shipmode matrix.
  No `l_shipmode` column exists, so the small-cardinality shipping
  dimension is DERIVED: ship-delay bands (FAST <= 30 d, MED <= 75 d,
  SLOW beyond) — same join + conditional-count shape.
- `dominant_part_suppliers` (Q20): the
  nested-aggregate semi-join. No `ps_availqty`, so "excess
  availability" becomes "dominant supplier": a supplier who shipped
  MORE THAN HALF of a part's total quantity in the scoped year.

With these, all 22 TPC-H query shapes have a registry analog (Q1-Q22:
pricing_summary, min_cost_regional_supplier, top_n_orders/Q3 shape,
late_ship_priority_counts, regional_market_share, promo-revenue Q6,
nation_pair_trade, regional_market_share/Q8, nation_year_profit,
customer returns/Q10 shape, part_revenue_concentration,
delay_band_priority_counts, customer_order_distribution,
promo_revenue_share, top_revenue_suppliers, brand_size_supplier_counts,
small_quantity_revenue, large_order_customers, brand_bracket_revenue,
dominant_part_suppliers, sole_late_supplier_orders, idle_rich_customers).

Plus these additions:
`streaming_click_full_join`, the FULL OUTER member of the watermarked
stream-stream interval-join matrix (inner r5-green, LEFT OUTER
round-9) — its oracle spells both asymmetric NULL-emission horizons,
so hash equality proves the runtime's two-sided state eviction; and
`docs_incremental_simhash`, the crawl-increment member of the
Hamming dedup family (completing the increment trio with
docs_incremental_dedup and emb_ann_ivfpq_increment); and
`docs_source_dup_matrix`, crawl-ops BI rolling the verified LSH
near-dup pairs into a source x source overlap matrix.

Reference parity: the reference's analytics surface is the sync +
query loop over its price tables (src/etl/postgres_sync.py, src/db/); these
shapes extend SURVEY.md §2's J5/A1-A5/O1-O3 operator families to the
full TPC-H decision-support matrix, all Spark-first (decorrelated
windows, broadcast dims, map-side-combined aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents, sql_cents
from ..sources.catalog import load_table
from .registry import register

# --------------------------------------------------------------------------
# TPC-H Q2 analog: minimum-cost supplier per part within a region
# --------------------------------------------------------------------------
Q2_REGION = "EUROPE"
Q2_SIZE_LO, Q2_SIZE_HI = 10, 20


def _sql_min_cost_supplier() -> str:
    return f"""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             MIN({sql_cents('l_extendedprice')}) AS cost_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    rs AS (
      SELECT s.s_suppkey, s.s_name, n.n_name,
             {sql_cents('s.s_acctbal')} AS s_acctbal_cents
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = '{Q2_REGION}'
    ),
    cand AS (
      SELECT p.p_partkey, p.p_brand, rs.s_name, rs.n_name,
             rs.s_acctbal_cents, su.cost_cents,
             MIN(su.cost_cents) OVER (PARTITION BY p.p_partkey) AS min_cost
      FROM supply su
      JOIN rs ON rs.s_suppkey = su.l_suppkey
      JOIN part p ON p.p_partkey = su.l_partkey
      WHERE p.p_size BETWEEN {Q2_SIZE_LO} AND {Q2_SIZE_HI}
    )
    SELECT p_partkey, p_brand, s_name, n_name, s_acctbal_cents, cost_cents
    FROM cand WHERE cost_cents = min_cost
    """


@register(
    "min_cost_regional_supplier",
    oracle=_sql_min_cost_supplier(),
    tags=("J5", "A2", "O3", "tpch-q2", "window"),
)
def min_cost_regional_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: for every mid-size part, the supplier(s) in EUROPE
    offering it at the minimum observed cost. The supply catalog is
    derived from lineitem (no partsupp table): per (part, supplier)
    the MIN line price, held as exact integer cents so MIN/equality
    are bit-identical across engines. The textbook correlated
    `cost = (SELECT MIN(cost) ...)` subquery decorrelates into ONE
    per-part window minimum — ties (several suppliers at the same
    minimum) all survive, as in the textbook answer.

    Scale: the ONLY corpus-sized shuffle is the (partkey, suppkey)
    supply aggregate, map-side combined from lineitem. The supplier ⋈
    nation ⋈ region chain and the size-filtered part dim scale with
    sf, so those joins are AQE-sized (broadcast while they fit) with
    nation/region the only hinted sides; the window minimum runs over
    the already-shrunk,
    dimension-filtered candidate frame. No self-join, no correlated
    re-probe of the supply table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", cents(F.col("l_extendedprice")).alias("pc")
    )
    supply = li.groupBy("l_partkey", "l_suppkey").agg(F.min("pc").alias("cost_cents"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    rs = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            cents(F.col("s_acctbal")).alias("s_acctbal_cents"),
        )
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(Q2_SIZE_LO, Q2_SIZE_HI))
        .select("p_partkey", "p_brand")
    )
    from pyspark.sql import Window

    cand = (
        supply.join(rs, supply.l_suppkey == rs.s_suppkey)
        .join(p, supply.l_partkey == p.p_partkey)
        .withColumn(
            "min_cost",
            F.min("cost_cents").over(Window.partitionBy("p_partkey")),
        )
    )
    return cand.filter(F.col("cost_cents") == F.col("min_cost")).select(
        "p_partkey", "p_brand", "s_name", "n_name", "s_acctbal_cents", "cost_cents"
    )


# --------------------------------------------------------------------------
# TPC-H Q12 analog: ship-delay bands x order-priority conditional counts
# --------------------------------------------------------------------------
Q12_LO, Q12_HI = "1996-01-01", "1998-01-01"
Q12_FAST_DAYS, Q12_MED_DAYS = 30, 75
_HIGH_PRI = ("1-URGENT", "2-HIGH")


def _sql_delay_band_priority() -> str:
    pri = ", ".join(f"'{p}'" for p in _HIGH_PRI)
    d = "date_diff('day', CAST(o.o_orderdate AS DATE), CAST(li.l_shipdate AS DATE))"
    return f"""
    WITH j AS (
      SELECT CASE WHEN {d} <= {Q12_FAST_DAYS} THEN '1-FAST'
                  WHEN {d} <= {Q12_MED_DAYS} THEN '2-MED'
                  ELSE '3-SLOW' END AS ship_band,
             o.o_orderpriority AS pri
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
      WHERE li.l_shipdate >= TIMESTAMP '{Q12_LO} 00:00:00'
        AND li.l_shipdate <  TIMESTAMP '{Q12_HI} 00:00:00'
    )
    SELECT ship_band,
           CAST(SUM(CASE WHEN pri IN ({pri}) THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(SUM(CASE WHEN pri IN ({pri}) THEN 0 ELSE 1 END) AS BIGINT)
             AS low_line_count
    FROM j GROUP BY ship_band
    """


@register(
    "delay_band_priority_counts",
    oracle=_sql_delay_band_priority(),
    tags=("J5", "A5", "F2", "tpch-q12"),
)
def delay_band_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: line counts by shipping class, split into high- vs
    low-priority orders. The testdata has no l_shipmode, so the
    small-cardinality shipping dimension is derived from the data:
    ship-delay bands (order-to-ship <= 30 d FAST, <= 75 d MED, else
    SLOW). Both engines compute the delay as DATE-truncated day
    difference — the predicate is identical by construction, so a
    regenerated dataset with intra-day times cannot diverge (the
    ADVICE r5 hazard class).

    Scale: the shipdate range filter is pushed to the lineitem scan;
    the orderkey equi-join is the one corpus shuffle (bucketed twins
    make it shuffle-free); the conditional-count aggregate map-side
    combines down to three rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q12_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_HI).cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    band = (
        F.when(d <= Q12_FAST_DAYS, "1-FAST")
        .when(d <= Q12_MED_DAYS, "2-MED")
        .otherwise("3-SLOW")
    )
    high = F.col("o_orderpriority").isin(*_HIGH_PRI)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(band.alias("ship_band"), high.alias("is_high"))
        .groupBy("ship_band")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q20 analog: suppliers dominating a part's shipped volume
# --------------------------------------------------------------------------
Q20_LO, Q20_HI = "1997-01-01", "1998-01-01"
Q20_NAME_PREFIX = "small"
Q20_REGION = "ASIA"


def _sql_dominant_suppliers() -> str:
    return f"""
    WITH scoped AS (
      SELECT li.l_partkey, li.l_suppkey,
             CAST(round(li.l_quantity) AS BIGINT) AS qty
      FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
      WHERE p.p_name LIKE '{Q20_NAME_PREFIX}%'
        AND li.l_shipdate >= TIMESTAMP '{Q20_LO} 00:00:00'
        AND li.l_shipdate <  TIMESTAMP '{Q20_HI} 00:00:00'
    ),
    per_ps AS (
      SELECT l_partkey, l_suppkey, CAST(SUM(qty) AS BIGINT) AS qty_supp
      FROM scoped GROUP BY l_partkey, l_suppkey
    ),
    dom AS (
      SELECT l_suppkey FROM (
        SELECT l_suppkey, qty_supp,
               CAST(SUM(qty_supp) OVER (PARTITION BY l_partkey) AS BIGINT)
                 AS qty_part
        FROM per_ps
      ) WHERE 2 * qty_supp > qty_part
      GROUP BY l_suppkey
    )
    SELECT s.s_name, n.n_name
    FROM dom d
    JOIN supplier s ON s.s_suppkey = d.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = '{Q20_REGION}'
    """


@register(
    "dominant_part_suppliers",
    oracle=_sql_dominant_suppliers(),
    tags=("J3", "A1", "tpch-q20", "semi-anti"),
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: ASIA suppliers who, for at least one 'small%' part,
    shipped MORE THAN HALF of that part's total 1997 volume. The
    textbook's nested `ps_availqty > 0.5 * (SELECT SUM(l_quantity)…)`
    becomes a dominance test over the derived supply volumes (no
    partsupp table): per-(part, supplier) quantity vs the per-part
    window total, compared in integer units (`2*qty_supp > qty_part`)
    so the half-threshold is exact on both engines — no 0.5 float.

    Scale: part-name and shipdate filters cut the corpus at the scan
    (the part join AQE-sized — part scales with sf); the (partkey,
    suppkey) aggregate is the one corpus shuffle, map-side combined;
    the per-part window total runs over the shrunk aggregate; the
    final joins run over a DISTINCT supplier list with nation/region
    hinted and supplier AQE-sized. The nested-IN of the
    textbook decorrelates into this single window pass — no re-probe
    of lineitem."""
    from pyspark.sql import Window

    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(Q20_NAME_PREFIX))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q20_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q20_HI).cast("timestamp"))
    )
    scoped = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_partkey",
        "l_suppkey",
        F.round("l_quantity").cast("long").alias("qty"),
    )
    per_ps = scoped.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").alias("qty_supp")
    )
    dom = (
        per_ps.withColumn(
            "qty_part",
            F.sum("qty_supp").over(Window.partitionBy("l_partkey")),
        )
        .filter(2 * F.col("qty_supp") > F.col("qty_part"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q20_REGION)
    return (
        dom.join(s, dom.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_name", "n_name")
    )


# --------------------------------------------------------------------------
# Streaming FULL OUTER interval join
# --------------------------------------------------------------------------
@register(
    "streaming_click_full_join",
    # Hash-checked against the batch equivalent with BOTH watermark
    # emission rules explicit: matched pairs are the plain interval
    # join; unmatched clicks emit NULL purchase columns once the final
    # watermark passes click_ts + 6h (no future purchase can match);
    # unmatched purchases emit NULL click columns once the watermark
    # passes purchase_ts (any matching click must have click_ts <=
    # purchase_ts, so the click side can no longer produce one). Both
    # rules verified empirically against the runtime at sf0.01
    # (221 matched / 1780 NULL-purchase / 1769 NULL-click) before the
    # oracle was pinned; strict `<` matches the click-side convention.
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      -- NULL when either side is empty (DuckDB's least() ignores NULL
      -- args): the runtime's global watermark never advances off epoch
      -- then, so NO outer rows emit — NULL w nullifies both emission
      -- predicates, matching exactly (same guard as the LEFT OUTER
      -- twin's oracle).
      SELECT CASE WHEN (SELECT MAX(ts) FROM c) IS NULL
                    OR (SELECT MAX(ts) FROM p) IS NULL THEN NULL
             ELSE least((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
                  - INTERVAL 1 HOUR END AS w
    )
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    UNION ALL
    SELECT c.user_id, c.event_id, NULL, c.ts, NULL
    FROM c, wm
    WHERE NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = c.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    )
    AND c.ts + INTERVAL 6 HOUR < wm.w
    UNION ALL
    SELECT p.user_id, NULL, p.event_id, NULL, p.ts
    FROM p, wm
    WHERE NOT EXISTS (
      SELECT 1 FROM c
      WHERE c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
    )
    AND p.ts < wm.w
    """,
    tags=("streaming", "stream-stream-join", "outer"),
)
def streaming_click_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked FULL OUTER stream-stream interval join — the last
    member of the streaming join matrix (inner r5-green, LEFT OUTER
    r9): attribution pairs, clicks that provably converted to nothing,
    AND purchases that provably arrived with no preceding click. The
    two NULL sides expire on DIFFERENT horizons (click at
    click_ts + window, purchase at purchase_ts, because the interval
    is one-sided) — the oracle spells both rules, so hash equality
    proves the runtime's asymmetric state eviction, not just the
    matched pairs.

    Scale: identical state bounds to the inner/left twins — both sides
    watermarked, the time predicate bounded in both directions, state
    hash-partitioned by user_id. The full-outer emission changes only
    what eviction produces, never what it buffers."""
    from .pipeline_queries import run_click_join_stream

    return run_click_join_stream(
        spark, sf_dir, join_type="full_outer", prefix="stream_fjoin"
    )


# --------------------------------------------------------------------------
# Incremental SimHash dedup: new crawl shard vs the standing fingerprints
# --------------------------------------------------------------------------
def _sql_incremental_simhash() -> str:
    from .round9_queries import (
        SIMHASH_BLOCK_BITS,
        SIMHASH_BLOCK_CAP,
        SIMHASH_HAM_BLOCKS,
        SIMHASH_HAM_T,
        _sql_simhash60,
    )

    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS blk,"
        f" (simhash // {1 << (SIMHASH_BLOCK_BITS * b)}) % {mask + 1} AS bv"
        " FROM sim"
        for b in range(SIMHASH_HAM_BLOCKS)
    )
    return f"""{_sql_simhash60()},
    blocks AS ({blocks}),
    nb AS (SELECT doc_id, blk, bv FROM blocks WHERE doc_id % 2 = 1),
    eb AS (
      SELECT doc_id, blk, bv FROM blocks WHERE doc_id % 2 = 0
      QUALIFY COUNT(*) OVER (PARTITION BY blk, bv) <= {SIMHASH_BLOCK_CAP}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_n, e.doc_id AS doc_e
      FROM nb n JOIN eb e ON n.blk = e.blk AND n.bv = e.bv
    ),
    ver AS (
      SELECT c.doc_n, c.doc_e,
             bit_count(xor(sn.simhash, se.simhash)) AS hamming
      FROM cand c
      JOIN sim sn ON sn.doc_id = c.doc_n
      JOIN sim se ON se.doc_id = c.doc_e
      WHERE bit_count(xor(sn.simhash, se.simhash)) <= {SIMHASH_HAM_T}
    ),
    best AS (
      SELECT doc_n, hamming, doc_e,
             CAST(COUNT(*) OVER (PARTITION BY doc_n) AS BIGINT) AS n_near,
             row_number() OVER (PARTITION BY doc_n
                                ORDER BY hamming, doc_e) AS rn
      FROM ver
    )
    SELECT s.doc_id,
           CAST(COALESCE(b.n_near, 0) AS BIGINT) AS n_near_dups,
           b.hamming AS min_hamming,
           b.doc_e AS nearest_doc,
           (b.doc_n IS NOT NULL) AS is_near_dup
    FROM sim s
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_n = s.doc_id
    WHERE s.doc_id % 2 = 1
    """


@register(
    "docs_incremental_simhash",
    oracle=_sql_incremental_simhash(),
    tags=("llm", "dedup-near", "simhash", "incremental"),
)
def docs_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash near-dup screening: a new crawl shard (odd
    doc_ids, the docs_incremental_dedup split convention) checked
    against the STANDING corpus's 60-bit fingerprint table (even
    doc_ids) — the crawl-increment story for the Hamming family,
    completing the trio with docs_incremental_dedup (MinHash/Jaccard)
    and emb_ann_ivfpq_increment (cosine). Per new doc: how many
    standing near-dups (Hamming <= 3), the closest one (ties to the
    smallest doc_id), and the keep/drop verdict.

    Scale: the standing side is ONE BIGINT fingerprint per doc — the
    table a production dedup service maintains under K2 merges; the
    shard never self-joins and the standing corpus never re-pairs with
    itself, so per-crawl cost is new-blocks x bucket occupancy, with
    overloaded standing buckets (> SIMHASH_BLOCK_CAP) skipped the same
    way the pairs query drops them. Candidates come from the Manku
    pigeonhole block equi-join; the exact popcount verify touches
    candidates only; the per-doc verdict is one window over the
    verified matches."""
    from pyspark.sql import Window

    from .round9_queries import (
        SIMHASH_BLOCK_BITS,
        SIMHASH_BLOCK_CAP,
        SIMHASH_HAM_BLOCKS,
        SIMHASH_HAM_T,
        _simhash60,
    )

    sim = _simhash60(spark, sf_dir)
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = sim.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), SIMHASH_BLOCK_BITS * b).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(SIMHASH_HAM_BLOCKS)
                ]
            )
        ).alias("blk", "bv"),
    )
    nb = blocks.filter(F.col("doc_id") % 2 == 1)
    eb = blocks.filter(F.col("doc_id") % 2 == 0)
    wide = (
        eb.groupBy("blk", "bv")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > SIMHASH_BLOCK_CAP)
        .select("blk", "bv")
    )
    eb = eb.join(F.broadcast(wide), ["blk", "bv"], "left_anti")
    cand = (
        nb.alias("n")
        .join(
            eb.alias("e"),
            (F.col("n.blk") == F.col("e.blk")) & (F.col("n.bv") == F.col("e.bv")),
        )
        .select(F.col("n.doc_id").alias("doc_n"), F.col("e.doc_id").alias("doc_e"))
        .distinct()
    )
    sn = sim.select(F.col("doc_id").alias("doc_n"), F.col("simhash").alias("hn"))
    se = sim.select(F.col("doc_id").alias("doc_e"), F.col("simhash").alias("he"))
    ver = (
        cand.join(sn, "doc_n")
        .join(se, "doc_e")
        .select("doc_n", "doc_e", F.expr("bit_count(hn ^ he)").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAM_T)
    )
    w = Window.partitionBy("doc_n")
    best = (
        ver.withColumn("n_near", F.count("*").over(w).cast("long"))
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy("hamming", "doc_e")),
        )
        .filter(F.col("rn") == 1)
    )
    new_docs = sim.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return new_docs.join(
        best, new_docs.doc_id == best.doc_n, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_near"), F.lit(0).cast("long")).alias("n_near_dups"),
        F.col("hamming").alias("min_hamming"),
        F.col("doc_e").alias("nearest_doc"),
        F.col("doc_n").isNotNull().alias("is_near_dup"),
    )


# --------------------------------------------------------------------------
# Cross-source duplication matrix: which sources duplicate each other
# --------------------------------------------------------------------------
def _sql_source_dup_matrix() -> str:
    from .llm_queries import _sql_minhash_pairs

    return f"""
    WITH pairs AS ({_sql_minhash_pairs()})
    SELECT least(coalesce(da.source, '<null>'), coalesce(db.source, '<null>'))
             AS src_a,
           greatest(coalesce(da.source, '<null>'), coalesce(db.source, '<null>'))
             AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MAX(p.jaccard) AS max_jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY src_a, src_b
    """


@register(
    "docs_source_dup_matrix",
    oracle=_sql_source_dup_matrix(),
    tags=("llm", "dedup-near", "crawl-ops"),
)
def docs_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ops BI over the dedup lane: the verified MinHash-LSH
    near-dup pairs rolled up into a source x source overlap matrix —
    which crawls/feeds duplicate each other (off-diagonal cells) and
    which re-crawl themselves (diagonal). Source pairs are canonicalized
    (least/greatest) so the matrix is upper-triangular; NULL sources
    map to an explicit '<null>' bucket on BOTH engines rather than
    riding engine-specific least() NULL semantics (the ADVICE r5
    NULL-routing hazard class).

    Scale: the expensive part IS the pairs plan (bucketed LSH +
    verify-on-candidates, already audited); this adds two broadcast
    joins against the documents dim projected to (doc_id, source) and
    a tiny (sources²)-bounded aggregate. max_jaccard aggregates values
    that are already bit-exact across engines (single IEEE division),
    so MAX is too."""
    from .llm_queries import docs_minhash_lsh_pairs

    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("source"), F.lit("<null>")).alias("src")
    )
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("src").alias("sa"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("src").alias("sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )
