"""Round-10 physical guards: the incremental IVF-PQ merge must be
surgical — only the crawl shard's cells rewritten, every untouched
cell directory carried into the new version as hardlinks (same inode,
zero data movement). Parity for both round-10 queries runs through
tests/test_parity.py like every registry query; this file asserts the
PHYSICAL claim the oracle cannot see."""

from __future__ import annotations

import os

from pse_stocks_etl_spark.plans import REGISTRY
from pse_stocks_etl_spark.plans import round10_queries  # noqa: F401

from conftest import SF_DIR


def _inodes(vdir: str) -> dict[str, set[int]]:
    """cell-partition dir name -> set of data-file inodes."""
    out: dict[str, set[int]] = {}
    for entry in os.listdir(vdir):
        if not entry.startswith("cell="):
            continue
        d = os.path.join(vdir, entry)
        out[entry] = {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    return out


def test_increment_rewrites_only_new_cells(spark):
    fn = round10_queries.emb_ann_ivfpq_increment
    REGISTRY["emb_ann_ivfpq_increment"].fn(spark, SF_DIR).count()
    root = fn._last_table_path
    new_cells = {f"cell={int(c)}" for c in fn._last_new_cells}
    assert new_cells, "fixture degenerate: the crawl shard touched no cells"
    v1 = _inodes(os.path.join(root, "_versions", "v00001"))
    v2 = _inodes(os.path.join(root, "_versions", "v00002"))
    # every cell of the standing index survives into v2
    assert set(v1) <= set(v2)
    untouched = set(v1) - new_cells
    assert untouched, "fixture degenerate: every cell was touched by the shard"
    for cell in untouched:
        # hardlink carry: identical inodes, no bytes rewritten
        assert v2[cell] == v1[cell], f"{cell} was rewritten but not touched"
    for cell in new_cells & set(v1):
        # merged cells must be fresh files, not carried links
        assert v2[cell].isdisjoint(v1[cell]), f"{cell} was not re-merged"


def test_lifecycle_counters_are_the_state_machine(spark):
    """The literal columns pin the version counters: v4 current, two
    versions vacuumed (v1, v2 — including the restore's own source),
    two retained (v3, v4)."""
    row = (
        REGISTRY["store_lifecycle_preview"]
        .fn(spark, SF_DIR)
        .select("final_version", "n_versions_removed", "n_versions_retained")
        .first()
    )
    assert tuple(row) == (4, 2, 2)


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_bucketed_join_has_no_join_side_exchange(spark):
    """Both sides bucketed on the join key: the ONLY Exchange allowed is
    the final 5-group aggregate's — a shuffle feeding the join means
    bucketing was silently ignored (wrong bucket count, disabled
    config, or a schema mismatch)."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "bucketed_colocated_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the 100 TB case: neither fact side fits a broadcast, so the join
    # must be a SortMergeJoin fed DIRECTLY by the bucketed scans
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, "scans are not bucketed"
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 1, f"join side shuffled: {len(exchanges)} exchanges"


def test_q9_star_join_shape(spark):
    """Q9 analog: part/supplier/nation broadcast; at most one shuffled
    join (lineitem-orders)."""
    import re

    plan = _plan(spark, "nation_year_profit")
    big = len(re.findall(r"\(\d+\) SortMergeJoin", plan)) + len(
        re.findall(r"\(\d+\) ShuffledHashJoin", plan)
    )
    assert big <= 1, f"expected <=1 non-broadcast join, got {big}"
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3


def test_q6_filters_reach_the_scan(spark):
    """The pure scan-aggregate: the shipdate-year band must prune at
    the parquet scan (pushed filters present), and the plan must be
    join-free."""
    import re

    plan = _plan(spark, "discount_band_revenue")
    assert "Join" not in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), f"no pushed filters: {pushed}"


def test_matryoshka_no_cartesian(spark):
    """The query side is a 3-row broadcast; a CartesianProduct would be
    the corpus×corpus failure mode."""
    plan = _plan(spark, "emb_matryoshka_recall")
    assert "CartesianProduct" not in plan


def test_mannwhitney_rank_windows_are_bucketed(spark):
    """The corpus-sized cumulative-rank window must partition by bucket
    (two-phase ranks); only the tiny bucket-offset window may be
    global. Plan shape: exactly 2 Window nodes."""
    import re

    plan = _plan(spark, "value_mannwhitney_u")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "CartesianProduct" not in plan


def test_cdc_apply_uses_window_group_limit(spark):
    """The last-op-wins collapse must prune each key's tail before the
    full per-key sort materializes (the engine's core argmax shape)."""
    plan = _plan(spark, "events_cdc_apply")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_brand_share_aggregates_before_ranking(spark):
    """Ranking and the Others rollup must run on the post-aggregate
    (|brands| rows), never the fact table: the part dim broadcasts and
    the only corpus-sized exchange is the brand aggregate's."""
    import re

    plan = _plan(spark, "brand_share_with_others")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_knn_no_cartesian(spark):
    """The held-out side is a bounded broadcast; CartesianProduct would
    be corpus x corpus."""
    plan = _plan(spark, "emb_knn_classify")
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_join_is_cell_equi(spark):
    """The quadratic search must be scoped to cells: an equi-join on
    cell with the cosine as residual — never a nested loop over the
    corpus."""
    plan = _plan(spark, "emb_semdedup")
    assert "CartesianProduct" not in plan


def test_recall_oracle_does_not_poison_the_connection():
    """DuckDB 1.0 regression: the first recall-report oracle (four full
    oracles composed as subqueries, ~6 unrolled 64-dim cosine blocks)
    executed fine ONCE but left the connection unable to run any later
    heavy oracle (spurious tiny-block OOM). The compact shared-CTE form
    must run, be followed by every other registry oracle, and run
    again — all on ONE connection, like the driver does."""
    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.testing import duck_connection

    from conftest import SF_DIR as _SF  # noqa: F811

    con = duck_connection("/root/testdata/sf0.001")
    recall = plans.REGISTRY["emb_ann_recall_report"].oracle
    con.sql(recall).fetchall()
    for name in ("emb_ann_ivfpq", "emb_ann_ivf", "emb_ann_lsh", "emb_cosine_topk"):
        con.sql(plans.REGISTRY[name].oracle).fetchall()
    assert len(con.sql(recall).fetchall()) == 9
    con.close()
