"""Round-11 physical guards: the TPC-H sweep completion (Q2/Q12/Q20
analogs) must keep the plan shapes their docstrings claim — one
corpus-sized shuffle each, dims broadcast, filters at the scan.
Value parity runs through tests/test_parity.py like every registry
query; this file pins the PHYSICAL claims the oracle cannot see."""

from __future__ import annotations

import re

from pse_stocks_etl_spark.plans import round11_queries  # noqa: F401
from pse_stocks_etl_spark.plans import REGISTRY

from conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _non_broadcast_joins(plan: str) -> int:
    return len(re.findall(r"\(\d+\) SortMergeJoin", plan)) + len(
        re.findall(r"\(\d+\) ShuffledHashJoin", plan)
    )


def test_q2_single_corpus_shuffle_and_broadcast_dims(spark):
    """Q2: the (partkey, suppkey) supply aggregate is the only
    corpus-sized exchange; supplier⋈nation⋈region and the
    size-filtered part dim join as broadcasts; the decorrelated MIN
    runs as a window (no self-join re-probe of the supply table)."""
    plan = _plan(spark, "min_cost_regional_supplier")
    assert _non_broadcast_joins(plan) == 0
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4
    assert "Window" in plan, "decorrelated MIN must be a window, not a join"
    # exchanges: corpus agg + window repartition (both on shrunk frames
    # after the agg) — a third means a join started shuffling
    shuffles = re.findall(r"\(\d+\) Exchange", plan)
    assert len(shuffles) <= 2, f"unexpected exchanges: {len(shuffles)}"
    # the size band must prune at the part scan, not post-join
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(p_size,10\)", plan)


def test_q12_filter_reaches_lineitem_scan(spark):
    """Q12: the shipdate band must prune at the parquet scan, and the
    band×priority matrix must map-side combine (partial aggregate
    before the exchange)."""
    plan = _plan(spark, "delay_band_priority_counts")
    m = re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan)
    assert m, "shipdate range not pushed to the lineitem scan"
    assert "HashAggregate" in plan
    # partial aggregate must appear upstream of the exchange
    assert re.search(r"partial_sum", plan) or "partial" in plan.lower()


def test_q20_dominance_is_window_not_self_join(spark):
    """Q20: the textbook nested-aggregate subquery must decorrelate
    into a per-part window total over the (part, supplier) aggregate —
    exactly one corpus-sized shuffle; part/supplier/nation/region all
    broadcast; no nested-loop join anywhere."""
    plan = _plan(spark, "dominant_part_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _non_broadcast_joins(plan) == 0
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4
    assert "Window" in plan
    m = re.search(r"PushedFilters: \[[^\]]*StringStartsWith\(p_name,small\)", plan)
    assert m, "part-name prefix not pushed to the part scan"
