"""Plan-shape guards for the round-9 queries (in the registry since
round 6): the physical plan properties that make each
query scale-safe must survive refactors (same pattern as
tests/test_round8.py's guards)."""

from __future__ import annotations

import re

from pse_stocks_etl_spark.plans import REGISTRY

# Importing populates REGISTRY.
from pse_stocks_etl_spark.plans import round9_queries  # noqa: F401

from conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q19_pushes_bracket_residues_to_scans(spark):
    """The OR-of-ANDs bracket must CNF-decompose: single-table residues
    reach both parquet scans as pushed filters."""
    plan = _plan(spark, "brand_bracket_revenue")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    nonempty = [p for p in pushed if p.strip()]
    # both the part scan (brand/size residue) and the lineitem scan
    # (quantity residue) must carry pushed filters
    assert len(nonempty) >= 2, f"bracket residues not pushed: {pushed}"
    assert "BroadcastHashJoin" in plan


def test_q17_brand_filter_pushed_and_joins_planner_sized(spark):
    """Q17's decorrelated form. The r8 hint sweep removed the forced
    broadcasts here (brand-filtered part and the per-part aggregate
    both SCALE with sf — hinting them was the 100 TB hazard class), so
    the compile-time plan may legitimately show sort-merge joins; AQE
    converts them to broadcast at runtime while the sides fit. What
    must survive refactors instead: the brand residue reaches the part
    scan as a pushed filter (the fact-side prune), the plan is
    adaptive (so the runtime size check actually happens), and no
    forced BroadcastExchange reappears on the sf-scaled sides (the
    allowlist guard tests/test_broadcast_allowlist.py enforces that
    source-side)."""
    plan = _plan(spark, "small_quantity_revenue")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("Brand" in p or "p_brand" in p for p in pushed), pushed
    assert "AdaptiveSparkPlan" in plan
    assert len(re.findall(r"SortMergeJoin|BroadcastHashJoin", plan)) >= 2


def test_q22_anti_join_and_scalar_broadcast(spark):
    plan = _plan(spark, "idle_rich_customers")
    assert "LeftAnti" in plan
    # the 1-row balance aggregate arrives via broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q4_uses_semi_join(spark):
    """Each order must emit at most once regardless of late-lineitem
    count — LEFT SEMI, not join+distinct."""
    plan = _plan(spark, "late_ship_priority_counts")
    assert "LeftSemi" in plan


def test_q8_single_non_broadcast_join(spark):
    """Q8's five dimension hops all broadcast; the only shuffled join
    is lineitem-orders on orderkey."""
    plan = _plan(spark, "regional_market_share")
    big = len(re.findall(r"\(\d+\) SortMergeJoin", plan)) + len(
        re.findall(r"\(\d+\) ShuffledHashJoin", plan)
    )
    assert big <= 1, f"expected <=1 non-broadcast join, plan has {big}"
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3


def test_quality_classifier_is_exchange_free(spark):
    """The classifier is a pure per-row map over the documents scan —
    any Exchange means someone turned scoring into a shuffle."""
    plan = _plan(spark, "docs_quality_classifier")
    assert "Exchange" not in plan


def test_ivfpq_no_cartesian_product(spark):
    """Every cross join in the IVF-PQ path must be broadcast (tiny
    centroid/query sides); a CartesianProduct would be the all-pairs
    failure mode."""
    plan = _plan(spark, "emb_ann_ivfpq")
    assert "CartesianProduct" not in plan


def test_q21_window_form_single_big_join(spark):
    """Q21's per-order counts must come from a window over the shrunk
    per-(order,supplier) aggregate, not a self-join back to a second
    per-order aggregate — the join form re-shuffled the big frame
    twice and measured 8.6x wall at 8x orders+lineitem (window form:
    2.7x). Exactly ONE non-broadcast join (lineitem-orders) allowed."""
    import re as _re

    plan = _plan(spark, "sole_late_supplier_orders")
    assert "Window" in plan
    big = len(_re.findall(r"\(\d+\) SortMergeJoin", plan)) + len(
        _re.findall(r"\(\d+\) ShuffledHashJoin", plan)
    )
    assert big <= 1, f"expected <=1 non-broadcast join, plan has {big}"
    # supplier dim must broadcast
    assert "BroadcastHashJoin" in plan


def test_power_iteration_no_cartesian_no_udf(spark):
    """The iterations run as one flat job each (bounded 64-double
    collect between rounds), so the FINAL plan must be corpus-free: a
    literal explode with no joins, no exchanges, and nothing leaving
    the JVM. A deep final plan here means the lineage re-nested (the
    22s-vs-3s re-execution failure mode, see _pit_v)."""
    plan = _plan(spark, "emb_power_iteration")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert "FileScan" not in plan  # corpus work happened in the iteration jobs


def test_simhash_pairs_candidate_join_is_equi(spark):
    """The pigeonhole candidate join must hash on (blk, bv) — an equi
    join with the doc_id inequality as a post-condition — never a
    cartesian/nested-loop over the corpus."""
    plan = _plan(spark, "docs_simhash_hamming_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_source_cap_single_window_over_hot_tail(spark):
    """The fast path must keep small sources out of the sort: exactly
    one Window node (the hot tail), and the per-source count joins
    arrive broadcast."""
    plan = _plan(spark, "docs_source_cap")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_char_diversity_is_exchange_free(spark):
    """The sorted-run fold makes diversity a pure per-row map over the
    documents scan (the repetition-stats rewrite) — any Exchange means
    someone re-introduced the unnest + double group-by."""
    plan = _plan(spark, "docs_char_diversity")
    assert "Exchange" not in plan
