"""Per-layer metrics of a traced run, from its spans and the event log.

Span durations are summed over the traced ops and divided by their
number, so every `*_s` figure is seconds per op and the sync figures add
up to the mean traced op time (the rest, incl. the daily_sync vacuum and
the wrappers, is reported as `sync.residual_s`).
Engine counters come from the Spark jobs tagged with a span's id.
"""

from __future__ import annotations

import statistics

from spans import Attribution, read_event_log, self_time

UNITS = {
    "session.start_s": "s",
    "sync.companies_s": "s",
    "sync.prices_self_s": "s",
    "sync.residual_s": "s",
    "watermark.rows_scanned": "rows",
    "watermark.scan_per_fetched_row": "ratio",
    "sources.rows_fetched": "rows",
    "sources.fetch_task_s": "s",
    "sources.fetch_tasks": "count",
    "store.merge_s": "s",
    "store.merge_jobs": "count",
    "store.files_written": "count",
    "store.files_linked": "count",
    "store.write_amp": "ratio",
    "store.live_files": "count",
    "store.partition_dirs": "count",
    "store.read_s": "s",
    "store.vacuum_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_metrics(
    spans: list[dict],
    event_dir: str,
    ops: list[dict],
    session_s: float,
    live: tuple[int, int, int],
) -> dict[str, tuple[float, str]]:
    attr = Attribution(*read_event_log(event_dir))
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    roots = [s for s in spans if s["parent"] is None]
    n = max(len(roots), 1)

    def per_op(name: str) -> float:
        return sum(_dur(s) for s in by_name.get(name, [])) / n

    prices = by_name.get("sync.prices", [])
    prices_ids = {s["id"] for s in prices}
    merges = by_name.get("store.merge", [])
    merges_in_prices = [m for m in merges if m["parent"] in prices_ids]
    merge_in_prices_s = sum(_dur(m) for m in merges_in_prices) / n
    scanned = sum(attr.counters(p)["input_records"] for p in prices) - sum(
        attr.counters(m)["input_records"] for m in merges_in_prices
    )
    traced_ops = [o for o in ops if o["traced"] and not o["error"]]
    fetched = sum(o.get("fetched", 0) for o in traced_ops)
    commits = [o for o in traced_ops if "files_written" in o]
    engine = [attr.counters(r) for r in roots]
    fetch = [attr.counters(p, fetch_only=True) for p in prices]
    vacuums = by_name.get("store.vacuum", [])

    def engine_sum(key: str, rows=engine) -> float:
        return sum(c[key] for c in rows) / n

    traced_s = [o["s"] for o in traced_ops]
    untraced_s = [o["s"] for o in ops if not o["traced"] and not o["error"]]
    traced_p50 = statistics.median(traced_s) if traced_s else 0.0
    untraced_p50 = statistics.median(untraced_s) if untraced_s else 0.0
    op_s = sum(_dur(r) for r in roots) / n
    companies_s = per_op("sync.companies")
    prices_self_s = per_op("sync.prices") - merge_in_prices_s

    values = {
        "session.start_s": session_s,
        "sync.companies_s": companies_s,
        "sync.prices_self_s": prices_self_s,
        "sync.residual_s": (op_s - companies_s - prices_self_s - merge_in_prices_s) if prices else 0.0,
        "watermark.rows_scanned": scanned / n,
        "watermark.scan_per_fetched_row": scanned / fetched if fetched else 0.0,
        "sources.rows_fetched": fetched / n,
        "sources.fetch_task_s": engine_sum("executor_run_s", fetch),
        "sources.fetch_tasks": engine_sum("tasks", fetch),
        "store.merge_s": per_op("store.merge"),
        "store.merge_jobs": sum(attr.jobs(m) for m in merges) / len(merges) if merges else 0.0,
        "store.files_written": sum(o["files_written"] for o in commits) / len(commits) if commits else 0.0,
        "store.files_linked": sum(o["files_linked"] for o in commits) / len(commits) if commits else 0.0,
        "store.write_amp": (
            sum(attr.counters(m)["output_records"] for m in merges) / fetched if fetched else 0.0
        ),
        "store.live_files": float(live[0] + live[1]),
        "store.partition_dirs": float(live[2]),
        "store.read_s": per_op("store.read"),
        "store.vacuum_s": sum(_dur(v) for v in vacuums) / len(vacuums) if vacuums else 0.0,
        "spark.jobs": sum(attr.jobs(r) for r in roots) / n,
        "spark.tasks": engine_sum("tasks"),
        "spark.executor_run_s": engine_sum("executor_run_s"),
        "spark.executor_cpu_s": engine_sum("executor_cpu_s"),
        "spark.gc_s": engine_sum("gc_s"),
        "spark.input_bytes": engine_sum("input_bytes"),
        "spark.shuffle_write_bytes": engine_sum("shuffle_write_bytes"),
        "trace.op_p50_s": traced_p50,
        "trace.untraced_op_p50_s": untraced_p50,
        "trace.overhead_s": traced_p50 - untraced_p50,
    }
    return {k: (float(v), UNITS[k]) for k, v in values.items()}


def span_table(spans: list[dict]) -> list[str]:
    """One line per span name: calls, total and self seconds per op."""
    n = max(sum(1 for s in spans if s["parent"] is None), 1)
    rows: dict[str, list[float]] = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += _dur(s)
        r[2] += self_time(s, spans)
    return [
        f"{name:<24} calls/op {c / n:5.2f}  total_s/op {t / n:8.4f}  self_s/op {st / n:8.4f}"
        for name, (c, t, st) in sorted(rows.items(), key=lambda kv: -kv[1][2])
    ]
