"""Query plans: the queries()/oracle_sql() registry and the sync planner.

Importing this package imports no query module, so `plans.sync` (the
CLI's and perfbench's entry point) stays free of the query modules. The
registry fills on first use of `REGISTRY`, `queries()` or
`oracle_sql()`: every module in `_QUERY_MODULES` is imported then, in
order, and one that fails to import raises.
"""

import importlib
import threading

from . import registry

# Modules that register queries, in registry order (after _DRIVER_FIRST).
_QUERY_MODULES = (
    "core_queries",
    "llm_queries",  # documents / embeddings tables
    "pipeline_queries",  # multimodal / streaming / stateful / sync engine
    "ext_queries",  # as-of join, approx/percentile aggs, windows
    "corpus_queries",  # repetition, contamination, packing, TF-IDF
    "store_queries",  # Z-order, rollup roundtrip, CDF preview
    "round6_queries",  # runtime filters, ER, baskets, expectations
    "round7_queries",  # islands, sweep-line, attribution, MAD, Benford
    "round8_queries",  # TPC-H Q14/Q18/Q7 shapes, span/bow/containment dedup
    "round9_queries",  # TPC-H subquery shapes, IVF-PQ, PCA, SimHash pairs
    "round10_queries",  # store lifecycle, incremental IVF-PQ
    "round11_queries",  # TPC-H sweep completion: Q2/Q12/Q20 analogs
    "round12_queries",  # C4 line dedup w/ reassembly, semi stream join
    "round13_queries",  # MV incremental refresh, k-hop BFS, k-anonymity
    "round14_queries",  # baseline JPEG codec
    "round15_queries",  # GIF/LZW codec, BM25, RRF hybrid retrieval
    "round16_queries",  # MP4 container, URL canonicalization, corpus build
    "round17_queries",  # exact substring dedup, BPE training
    "round18_queries",  # mixture planning/sampling, quantile sketch
    "round19_queries",  # sketch/index error audits, mixture reweight
    "round20_queries",  # IVF cell split, incremental corpus build
    "round21_queries",  # store-backed incremental corpus admission
)

# ---------------------------------------------------------------------------
# Driver-verification rotation.
#
# The correctness driver records the FIRST 50 registry entries in iteration
# order each round. CORRECTNESS_r10 came back 49 green + 1 err: the
# single red was docs_semdedup_increment's ORACLE OOMing the driver's
# DuckDB (an allocator-footprint problem, not a wrong answer — fixed in
# r11 by the compile-footprint-bounded oracle forms in
# functions/vectors.py, enforced by tests/test_oracle_footprint.py).
#
# The round-11 window below was WRITTEN BY `python scripts/plan_rotation.py
# --apply` (re-run after every addition batch; the planner rewrites
# this block in place). It derives from the CORRECTNESS_r*.json files
# on disk: docs_semdedup_increment leads (the one query without a
# hash-green row), the seven round-11 additions (IVF cell split + its
# recall audit, trained quality classifier + serving pass, incremental
# corpus build, epoch shard shuffle, data-constrained epoch cap
# water-fill) follow as never-checked, and the rest of the window is
# pure stalest-green refresh — the r3/r4-era roundtrip/store/window
# block whose most-recent green rows are oldest.
#
# ROTATION POLICY (standing): step zero of every round is two commands:
#   python scripts/plan_rotation.py --apply
#   python scripts/gen_driver_map.py --write
# (the planner emits never-checked first, then the 50 queries whose
# most-recent driver-green row is OLDEST, breaking ties by registry
# order). New queries go to REGISTRY and the front of _DRIVER_FIRST
# (they are never-checked by definition and outrank any refresh); the
# never-checked backlog beyond the window stays under 25 queries. The
# rotation guards (tests/test_parity.py::
# test_driver_window_covers_unverified_queries and
# ::test_refresh_slots_are_the_stalest_greens) read the actual
# CORRECTNESS files, never this prose.
# ---------------------------------------------------------------------------
_DRIVER_FIRST = [
    # -- generated by scripts/plan_rotation.py --apply (never-checked=0, stale refill=50) --
    "value_mad_outliers",
    "variant_props_histogram",
    "vwap_weekly",
    "array_agg_user_profile",
    "brand_bracket_revenue",
    "custkey_skew_profile",
    "customer_order_distribution",
    "customer_rfm_segments",
    "daily_seasonal_backtest",
    "daily_type_share",
    "docs_bow_dedup",
    "docs_char_diversity",
    "docs_cluster_canonical",
    "docs_containment_prefix_pairs",
    "docs_overlap_chunks",
    "docs_prefix_jaccard_pairs",
    "docs_quality_classifier",
    "docs_rare_bigram_rate",
    "docs_simhash",
    "docs_simhash_hamming_pairs",
    "docs_source_cap",
    "docs_span_dedup",
    "emb_ann_adc",
    "emb_ann_ivfpq",
    "emb_ann_ivfpq_increment",
    "emb_cosine_topk",
    "emb_power_iteration",
    "emb_pq_quantize",
    "emb_variance_explained",
    "events_debounce",
    "idle_rich_customers",
    "large_order_customers",
    "late_ship_priority_counts",
    "multimodal_bmp_decode",
    "multimodal_y4m_frames",
    "nation_pair_trade",
    "order_value_deciles",
    "part_revenue_concentration",
    "price_quantity_corr",
    "promo_revenue_share",
    "purchase_state_asof",
    "regional_market_share",
    "segment_priority_chisq",
    "small_quantity_revenue",
    "sole_late_supplier_orders",
    "store_lifecycle_preview",
    "streaming_click_outer_join",
    "supplier_revenue_gini",
    "top_revenue_suppliers",
    "value_ks_two_sample",
]


def _reorder_registry() -> None:
    """Re-key REGISTRY canonically: _DRIVER_FIRST, then the rest by the
    position of the registering module in _QUERY_MODULES, keeping each
    module's registration order. The result does not depend on which
    module was imported first."""
    reg = registry.REGISTRY
    rank = {f"{__name__}.{m}": i for i, m in enumerate(_QUERY_MODULES)}
    first = {n: reg[n] for n in _DRIVER_FIRST if n in reg}
    rest = sorted((n for n in reg if n not in first), key=lambda n: rank[reg[n].fn.__module__])
    ordered = {**first, **{n: reg[n] for n in rest}}
    reg.clear()
    reg.update(ordered)


_LOAD_LOCK = threading.RLock()


def _loaded() -> dict[str, registry.Query]:
    """Import every query module (once) and return the ordered REGISTRY.
    Locked: a second thread must not see the dict mid-reorder. Once
    loaded, `REGISTRY` is a plain module attribute."""
    global REGISTRY
    with _LOAD_LOCK:
        if "REGISTRY" not in globals():
            for m in _QUERY_MODULES:
                importlib.import_module(f"{__name__}.{m}")
            _reorder_registry()
            REGISTRY = registry.REGISTRY
    return registry.REGISTRY


def __getattr__(name: str):
    if name == "REGISTRY":
        return _loaded()
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def queries() -> dict[str, registry.QueryFn]:
    return {name: q.fn for name, q in _loaded().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in _loaded().items() if q.oracle is not None}
