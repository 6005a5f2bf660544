"""Hot-key skew stress: clone a testdata table with a deterministic
hot key owning ~half the rows (ON TOP of N-fold replication), then
time key-partitioned registry queries against the uniform replica.
Complements scripts/stress_scale.py (uniform growth) — skew is the
failure mode uniform replication cannot show: one reducer owns the hot
key's partition, so a per-key window/aggregate degrades by the hot
share, not the replication factor.

Usage: python scripts/stress_skew.py events 16 sessionization user_value_ewma
The hot clone reassigns user_id -> 7 on every second replica row.

`documents` is special-cased for the crawl lane (r9 VERDICT item 5):
its skew key, registered_domain, is DERIVED (doc_id % 7 picks the
host), so the hot clone cannot reassign a column — instead every
second replica maps doc_id -> 7*(doc_id + k*stride) + 7e10, which is
(a) unique, (b) disjoint from the uniform replicas' id range, and
(c) ≡ 0 (mod 7): the whole replica lands on the Site0 domain, so the
hot clone has one domain owning ~half the corpus — the Zipf megadomain
case for docs_domain_cap's salted top-K.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HOT = {"events": ("user_id", 7), "lineitem": ("l_orderkey", 7), "orders": ("o_custkey", 7)}
# documents: derived skew key — hot replicas remap doc_id itself (see module doc)
DOC_HOT_BASE = 7 * 10**10


def build(sf_dir: str, table: str, factor: int) -> tuple[str, str]:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scripts.stress_scale import ID_COLS, ID_STRIDE  # reuse replication rules

    col, hot_val = HOT.get(table, (None, None))
    out_u = f"/tmp/skew_{table}_x{factor}_uniform"
    out_h = f"/tmp/skew_{table}_x{factor}_hot"
    for d in (out_u, out_h):
        os.makedirs(d, exist_ok=True)
    t = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    parts_u, parts_h = [], []
    for k in range(factor):
        rep = t
        for id_col in ID_COLS[table]:
            idx = rep.column_names.index(id_col)
            import pyarrow.compute as pc

            rep = rep.set_column(idx, id_col, pc.add(rep.column(id_col), k * ID_STRIDE))
        parts_u.append(rep)
        if k % 2 == 1:  # every second replica: all rows belong to the hot key
            if table == "documents":
                # derived key: remap doc_id to ≡ 0 (mod 7) — whole
                # replica lands on the Site0 registered domain
                idx = rep.column_names.index("doc_id")
                import pyarrow.compute as pc

                hot_ids = pc.add(pc.multiply(rep.column("doc_id"), 7), DOC_HOT_BASE)
                rep = rep.set_column(idx, "doc_id", hot_ids)
            else:
                idx = rep.column_names.index(col)
                ctype = rep.schema.field(col).type
                hot_col = pa.array(
                    np.full(rep.num_rows, hot_val, dtype="int64"), pa.int64()
                ).cast(ctype)
                rep = rep.set_column(idx, col, hot_col)
        parts_h.append(rep)
    for parts, out in ((parts_u, out_u), (parts_h, out_h)):
        pq.write_table(pa.concat_tables(parts), os.path.join(out, f"{table}.parquet"))
        for other in os.listdir(sf_dir):
            dst = os.path.join(out, other)
            if other.endswith(".parquet") and not os.path.exists(dst):
                os.symlink(os.path.join(sf_dir, other), dst)
    return out_u, out_h


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__)
        return 2
    table, factor = sys.argv[1], int(sys.argv[2])
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches
    from pse_stocks_etl_spark.session import get_spark

    uni, hot = build(sf_dir, table, factor)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("skew", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    for label, d in [("uniform", uni), ("hot-key", hot)]:
        for name in names:
            fn = plans.REGISTRY[name].fn
            best = None
            for _ in range(2):
                clear_working_set_caches()
                t0 = time.perf_counter()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            print(f"{label:8s} {name:32s} {best:7.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
