"""8-vs-32-core scaling proof at an sf1-equivalent dataset (VERDICT r12
item 5): replicate sf0.1 x10 — documents with --perturb semantics so
the cleaning lanes see genuinely-new replicas (plain clones dedupe away
and pair lanes explode quadratically; see stress_scale.replicate),
embeddings / events / orders+lineitem with disjoint key strides — then
time the scan-heavy headliners warm (best of 2, noop sink) in a FRESH
JVM per core count and emit plans/r13/scaling_sf1.json with the
low-core/high-core wall ratios. At sf0.1 nearly every headliner was
fixed-cost-bound (8-vs-32 ratios ~1, PERF_r12.scaling); this run shows
whether the plans parallelize once the input outgrows the fixed costs.

Usage: python scripts/scaling_proof.py [factor] [--cpus 8,32]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    # document lanes (tokenize/shingle CPU + pair joins)
    "docs_ngram_jaccard_pairs",
    "docs_line_dedup",
    "docs_substring_dedup",
    "docs_bigram_lm_score",
    "docs_repetition_stats",
    "docs_token_stats",
    "corpus_build",
    # embeddings (vector math per row)
    "emb_pq_quantize",
    "emb_cosine_topk",
    # events (scan + window/session)
    "hourly_event_rollup",
    "sessionization",
    # TPC-H scans/joins
    "nation_year_profit",
    "local_supplier_volume",
    "basket_cooccurrence_lift",
]


def build_dataset(factor: int) -> str:
    from scripts.stress_scale import replicate

    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    d = replicate(base, "documents", factor, perturb=True)
    d = replicate(d, "embeddings", factor)
    d = replicate(d, "events", factor)
    d = replicate(d, "orders+lineitem", factor)
    return d


def time_queries(sf_dir: str, cpus: int) -> dict[str, float]:
    """Child-process entry: one fresh JVM per core count."""
    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches
    from pse_stocks_etl_spark.session import get_spark

    spark = get_spark(
        "scaling-proof", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    for name in QUERIES:  # warm-up pass (codegen/JIT)
        plans.REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    for name in QUERIES:
        clear_working_set_caches()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            plans.REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    spark.stop()
    return out


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        sf_dir, cpus = sys.argv[2], int(sys.argv[3])
        print(json.dumps(time_queries(sf_dir, cpus)))
        return
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    cpu_list = [8, 32]
    if "--cpus" in sys.argv:
        i = sys.argv.index("--cpus")
        cpu_list = [int(c) for c in sys.argv[i + 1].split(",")]
    sf_dir = build_dataset(factor)
    print(f"dataset: {sf_dir}", file=sys.stderr)
    results: dict[str, dict[str, float]] = {}
    for cpus in cpu_list:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", sf_dir, str(cpus)],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        if r.returncode != 0:
            sys.stderr.write(r.stderr)
            sys.exit(f"cpus={cpus}: child failed with exit status {r.returncode}")
        lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(r.stderr)
            sys.exit(f"cpus={cpus}: child printed no JSON result line")
        line = lines[-1]
        results[str(cpus)] = json.loads(line)
        print(f"cpus={cpus}: {line}", file=sys.stderr)
    lo, hi = str(cpu_list[0]), str(cpu_list[-1])
    summary = {
        "factor_vs_sf0.1": factor,
        "cpus": cpu_list,
        "per_query": {
            name: {
                f"sec_{lo}c": results[lo][name],
                f"sec_{hi}c": results[hi][name],
                "ratio": round(results[lo][name] / max(results[hi][name], 1e-9), 2),
            }
            for name in QUERIES
        },
    }
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
