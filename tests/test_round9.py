"""Round-9 queries are registry queries (since round 6): they get
strict DuckDB parity through tests/test_parity.py like every other
registry query. What remains here is the check that none of them fell
out of the registry."""

from __future__ import annotations

from pse_stocks_etl_spark import plans

ROUND9_NAMES = [
    "customer_order_distribution",
    "small_quantity_revenue",
    "idle_rich_customers",
    "brand_bracket_revenue",
    "late_ship_priority_counts",
    "top_revenue_suppliers",
    "part_revenue_concentration",
    "regional_market_share",
    "sole_late_supplier_orders",
    "emb_ann_ivfpq",
    "docs_quality_classifier",
    "streaming_click_outer_join",
    "docs_overlap_chunks",
    "docs_cluster_canonical",
    "daily_seasonal_backtest",
    "emb_power_iteration",
    "emb_variance_explained",
    "docs_simhash_hamming_pairs",
    "docs_source_cap",
    "docs_char_diversity",
]


def test_round9_queries_promoted_to_registry():
    missing = [n for n in ROUND9_NAMES if n not in plans.REGISTRY]
    assert not missing, f"round-9 queries fell out of the registry: {missing}"
