"""Reproducible scale-up stress harness behind SCALE.md's measured
numbers: replicate one testdata table N-fold with disjoint key ranges
(same time span / duplicate-density-inflating, the worst case for
pair-generating queries), then time registry queries warm on the
replicated corpus vs the original.

Usage:
  python scripts/stress_scale.py documents 8 docs_span_dedup docs_containment_prefix_pairs
  python scripts/stress_scale.py embeddings 64 emb_pq_quantize emb_ann_adc
  python scripts/stress_scale.py events 64 hourly_event_rollup sessionization
  python scripts/stress_scale.py orders+lineitem 16 sole_late_supplier_orders
  python scripts/stress_scale.py --perturb documents 8 corpus_epoch_shuffle

`--perturb` makes document replicas SURVIVE the cleaning pipeline
(per-replica word tags: md5 differs, cross-replica shingle Jaccard ~0,
token counts and Gopher word/bigram frequency shapes preserved) and
suffixes the source enum per replica — for stressing pipeline-DOWNSTREAM
lanes (pack manifest, epoch shuffle/water-fill) whose working sets a
plain clone never grows because the duplicates dedupe away upstream.

A `+`-joined table spec replicates ALL named tables with the SAME key
stride on their shared key (orders+lineitem strides o_orderkey and
l_orderkey together), so fact-fact joins see a consistent N-fold
universe instead of orphaned foreign keys.

Writes the replicated table to /tmp/stress_<table>_x<N>/ and prints
best-of-2 warm wall times at x1 and xN. Queries that only read other
tables see symlinks back to the base sf_dir.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ID_COLS = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id",),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "lineitem": ("l_orderkey",),
}
ID_STRIDE = 10_000_000


def replicate(sf_dir: str, table: str, factor: int, perturb: bool = False) -> str:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    suffix = "p" if perturb else ""
    out_dir = f"/tmp/stress_{table.replace('+', '_')}_x{factor}{suffix}"
    os.makedirs(out_dir, exist_ok=True)
    for one in table.split("+"):
        t = pq.read_table(os.path.join(sf_dir, f"{one}.parquet"))
        parts = []
        for k in range(factor):
            rep = t
            for id_col in ID_COLS[one]:
                idx = rep.column_names.index(id_col)
                rep = rep.set_column(
                    idx, id_col, pc.add(rep.column(id_col), k * ID_STRIDE)
                )
            if perturb and k > 0 and "text" in rep.column_names:
                # SURVIVOR replication (VERDICT-r11 item 6): plain clones
                # dedupe away upstream (exact md5, then near-dup — one
                # changed word keeps Jaccard ~1), so pipeline-downstream
                # working sets (pack chunks, source enum) stay at x1 and
                # the stress row proves nothing. Suffixing EVERY word
                # with a per-replica tag (a) breaks the md5, (b) zeroes
                # cross-replica shingle Jaccard (every w-gram carries
                # tagged words), while (c) preserving token counts and
                # the exact word/bigram frequency multisets the Gopher
                # repetition gate measures — replicas are admitted as
                # genuinely-new documents and every downstream universe
                # really grows xN.
                ti = rep.column_names.index("text")
                txt = pc.replace_substring(
                    rep.column("text"), pattern=" ", replacement=f"~r{k} "
                )
                rep = rep.set_column(ti, "text", txt)
                if "n_chars" in rep.column_names:
                    ci = rep.column_names.index("n_chars")
                    rep = rep.set_column(
                        ci, "n_chars", pc.cast(pc.utf8_length(txt), pa.int64())
                    )
            if perturb and k > 0 and "source" in rep.column_names:
                # grow the source enum too: the mixture/water-fill lanes
                # claim "bounded 20-source arithmetic" — measure it at
                # 20*N sources instead of asserting it.
                si = rep.column_names.index("source")
                rep = rep.set_column(
                    si,
                    "source",
                    pc.binary_join_element_wise(
                        pc.cast(rep.column("source"), pa.string()), f"_r{k}", ""
                    ),
                )
            parts.append(rep)
        pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, f"{one}.parquet"))
    # events replication keys user_id too? No: event_id uniqueness is
    # enough for the event-path queries; user collisions are realistic.
    for other in os.listdir(sf_dir):
        dst = os.path.join(out_dir, other)
        if other.endswith(".parquet") and not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, other), dst)
    return out_dir


def main() -> int:
    argv = sys.argv[1:]
    perturb = "--perturb" in argv
    if perturb:
        argv.remove("--perturb")
    if len(argv) < 3:
        print(__doc__)
        return 2
    table, factor = argv[0], int(argv[1])
    names = argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches
    from pse_stocks_etl_spark.session import get_spark

    big_dir = replicate(sf_dir, table, factor, perturb=perturb)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("stress", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    for label, d in [("x1", sf_dir), (f"x{factor}", big_dir)]:
        for name in names:
            best, rows = None, None
            for _ in range(2):
                clear_working_set_caches()
                t0 = time.perf_counter()
                fn = plans.REGISTRY[name].fn
                # noop write = FORCED FULL EVALUATION. count() let
                # Catalyst prune provably row-preserving subtrees (a
                # left join against a unique-keyed side) and reported a
                # flat wall for work that never ran — caught on
                # emb_semdedup at x64 (2.05s "flat", 32M cosine pairs
                # never evaluated).
                fn(spark, d).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            rows = fn(spark, d).count()
            print(f"{label:4s} {name:32s} {best:7.2f}s rows={rows}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
