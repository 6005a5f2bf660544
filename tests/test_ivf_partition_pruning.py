"""The IVF-PQ 100 TB layout, made real: the cell assignment persists as
a PARTITION column of a ParquetTable, and a probe query then reads only
nprobe/ncells of the index from disk — verified against the physical
plan's partition filters and the actual files scanned. This is the
claim every IVF docstring makes ('assignment persisted as `cell` →
partition-pruned probes at scale'), demonstrated end-to-end instead of
asserted."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pse_stocks_etl_spark.store.parquet_table import ParquetTable

from conftest import SF_DIR


@pytest.fixture(scope="module")
def index_table(spark, tmp_path_factory):
    """Build the IVF-PQ index ONCE: codes + cell for every vector,
    written partitioned by cell (the build half of emb_ann_ivfpq)."""
    # Reuse the query's internals by materializing its candidate
    # frame: re-derive assignment + codes the same way the query does.
    from pse_stocks_etl_spark.functions.vectors import to_double_array
    from pse_stocks_etl_spark.operators.dedup import topk_per_group
    from pse_stocks_etl_spark.functions.vectors import cosine
    from pse_stocks_etl_spark.plans.llm_queries import IVF_CENTROID_IDS
    from pse_stocks_etl_spark.plans.round8_queries import PQ_M, _pq_code_frame
    from pse_stocks_etl_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.select("vec_id", to_double_array(F.col("embedding")).alias("v"))
    cents_df = base.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    scored = base.crossJoin(F.broadcast(cents_df)).select(
        "vec_id", "cid", cosine(F.col("v"), F.col("cvec")).alias("ccos")
    )
    assign = topk_per_group(
        scored, ["vec_id"], [F.col("ccos").desc(), F.col("cid").asc()], k=1
    ).select("vec_id", F.col("cid").alias("cell"))
    codes = (
        _pq_code_frame(emb)
        .drop("q", *[f"e{m}" for m in range(PQ_M)])
        .join(assign, "vec_id")
    )
    root = str(tmp_path_factory.mktemp("ivfpq_index")) + "/ivf_index"
    table = ParquetTable(spark, root, codes.schema, partition_by=("cell",))
    table.overwrite(codes)
    return table


def test_index_layout_has_cell_directories(index_table):
    vdir = os.path.join(index_table.path, "_versions", index_table._pointer())
    cells = [d for d in os.listdir(vdir) if d.startswith("cell=")]
    assert len(cells) >= 2, f"expected cell= partition dirs, got {os.listdir(vdir)}"


def test_probe_scan_is_partition_pruned(spark, index_table):
    """A 2-cell probe must carry a partition filter AND touch only the
    probed cells' files on disk."""
    df = index_table.read()
    all_cells = sorted(r.cell for r in df.select("cell").distinct().collect())
    probes = all_cells[:2]
    probe_df = df.filter(F.col("cell").isin(*[int(c) for c in probes]))

    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(
        probe_df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]

    # physical proof: the files feeding the scan live only in probed dirs
    files = [r.file for r in probe_df.select(
        F.input_file_name().alias("file")).distinct().collect()]
    assert files, "probe scanned no files"
    for f in files:
        assert any(f"cell={c}" in f for c in probes), f"unpruned file read: {f}"

    # and the probe reads strictly fewer files than the full index
    all_files = {r.file for r in df.select(
        F.input_file_name().alias("file")).distinct().collect()}
    assert len(files) < len(all_files)


def test_probe_results_match_unpartitioned_index(spark, index_table):
    """Partitioning is layout, not semantics: per-cell code rows read
    through the pruned path equal the same filter over the full read."""
    df = index_table.read()
    cells = sorted(r.cell for r in df.select("cell").distinct().collect())[:2]
    pruned = df.filter(F.col("cell").isin(*[int(c) for c in cells]))
    full = df.collect()
    want = sorted(
        (r.vec_id, r.cell) for r in full if r.cell in set(int(c) for c in cells)
    )
    got = sorted((r.vec_id, r.cell) for r in pruned.collect())
    assert got == want
