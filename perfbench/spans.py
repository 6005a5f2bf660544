"""Span recording for the traced run.

The tracer wraps public entry points of the program from the outside
(class attributes are swapped while a traced op runs and restored after
it), records one span per call, and tags the Spark jobs started inside
each span with a job tag. The Spark event log, parsed after the session
stops, then attributes task counters (run time, CPU, GC, bytes, records)
to every span that was open when a job started.

A span is a dict: id, name, parent id, op id, start, end (perf_counter
seconds). Spans stay in memory until the run writes them out at exit.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

TAG_PREFIX = "pb"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        tag = f"{TAG_PREFIX}{sid}"
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(tag)
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str, op_id: int, targets):
        """Root span of one benchmark op, with the wrappers installed."""
        self._op = op_id
        self._install(targets)
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._uninstall()
            self._op = None

    def _install(self, targets) -> None:
        for owner, attr, name in targets:
            orig = owner.__dict__[attr]
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def _uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


def program_targets() -> list[tuple[object, str, str]]:
    """(owner, attribute, span name) for every wrapped public entry point."""
    from pse_stocks_etl_spark.plans.sync import PseDatasets
    from pse_stocks_etl_spark.sources.pse_edge import FakePseEdge
    from pse_stocks_etl_spark.store.parquet_table import ParquetTable

    return [
        (PseDatasets, "initdb", "sync.initdb"),
        (PseDatasets, "sync", "sync.sync"),
        (PseDatasets, "sync_companies", "sync.companies"),
        (PseDatasets, "sync_prices", "sync.prices"),
        (PseDatasets, "price_fetch_plan", "watermark.plan"),
        (FakePseEdge, "get_listed_companies", "sources.list_companies"),
        (ParquetTable, "init_empty", "store.init_empty"),
        (ParquetTable, "overwrite", "store.overwrite"),
        (ParquetTable, "merge", "store.merge"),
        (ParquetTable, "read", "store.read"),
        (ParquetTable, "vacuum", "store.vacuum"),
    ]


# -- engine counters from the event log ------------------------------------

_COUNTERS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "input_records",
    "shuffle_write_bytes",
    "output_bytes",
    "output_records",
)


def read_event_log(log_dir: str) -> tuple[dict, dict, dict]:
    """Parse the (uncompressed, non-rolling) event log.

    Returns (job_tags, stage_tags, stage_counters): the job tags of every
    job and stage, and per stage the summed task counters plus whether
    the stage runs the executor-side fetch (a MapInPandas operator).
    """
    job_tags: dict[int, set[str]] = {}
    stage_tags: dict[int, set[str]] = {}
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(_COUNTERS, 0) | {"fetch": False})
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    job_tags[e["Job ID"]] = _tags(e.get("Properties"))
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stage_tags[info["Stage ID"]] = _tags(e.get("Properties"))
                    stages[info["Stage ID"]]["id"] = info["Stage ID"]
                    if any('"MapInPandas"' in (r.get("Scope") or "") for r in info["RDD Info"]):
                        stages[info["Stage ID"]]["fetch"] = True
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    s = stages[e["Stage ID"]]
                    s["tasks"] += 1
                    s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    s["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    s["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    s["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    s["output_records"] += m.get("Output Metrics", {}).get("Records Written", 0)
    return job_tags, stage_tags, dict(stages)


def _tags(props: dict | None) -> set[str]:
    raw = (props or {}).get("spark.job.tags", "")
    return {t for t in raw.split(",") if t.startswith(TAG_PREFIX)}


class Attribution:
    """Engine counters of each span, inclusive of its children."""

    def __init__(self, job_tags: dict, stage_tags: dict, stages: dict) -> None:
        self.jobs_by_tag: dict[str, int] = defaultdict(int)
        for tags in job_tags.values():
            for t in tags:
                self.jobs_by_tag[t] += 1
        self.stages_by_tag: dict[str, list[dict]] = defaultdict(list)
        for sid, tags in stage_tags.items():
            if sid in stages:
                for t in tags:
                    self.stages_by_tag[t].append(stages[sid])

    def jobs(self, span: dict) -> int:
        return self.jobs_by_tag.get(f"{TAG_PREFIX}{span['id']}", 0)

    def counters(self, span: dict, fetch_only: bool = False) -> dict[str, float]:
        """Summed task counters of the span's stages. `fetch_only` keeps
        just the first stage that runs MapInPandas: later stages that
        read the persisted batch carry the operator in their lineage but
        are served from the cache."""
        stages = self.stages_by_tag.get(f"{TAG_PREFIX}{span['id']}", [])
        if fetch_only:
            fetch = [s for s in stages if s["fetch"]]
            stages = [min(fetch, key=lambda s: s["id"])] if fetch else []
        out = dict.fromkeys(_COUNTERS, 0)
        for s in stages:
            for k in _COUNTERS:
                out[k] += s[k]
        return out


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it covered by direct children (children
    of one span run sequentially on the driver thread, so they do not
    overlap)."""
    covered = sum(c["end"] - c["start"] for c in spans if c["parent"] == span["id"])
    return (span["end"] - span["start"]) - covered
