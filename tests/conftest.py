from __future__ import annotations

import contextlib
import os
import re
import signal
import subprocess
import sys
import threading

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pse_stocks_etl_spark.session import get_spark

    s = get_spark(
        "tests",
        master="local[8]",
        shuffle_partitions=8,
        # Neither setting changes a result. The suite runs thousands of
        # small plans, so per-plan driver overhead is most of its time:
        # do not capture the Python call site of every DataFrame call
        # (it only annotates error messages, at several py4j round
        # trips per call), and keep the compiled code of every plan,
        # since each parity matrix compiles the same plans again on
        # another input (the default cache holds 100 classes).
        **{
            "spark.python.sql.dataFrameDebugging.enabled": "false",
            "spark.sql.codegen.cache.maxEntries": "4000",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _fresh_duck():
    import tempfile

    import duckdb

    con = duckdb.connect()
    con.sql("SET memory_limit = '4GB'")
    # Per-thread operator reservations x ~90 default workers exhaust
    # the 4GB cap on many-operator plans over tiny data (see
    # testing.duck_connection); 8 threads is plenty for sf<=0.01.
    con.sql("SET threads = 8")
    con.sql(f"SET temp_directory = '{tempfile.mkdtemp(prefix='duck_spill_')}'")
    return con


class _RecyclingDuck:
    """Drop-in for a DuckDB connection that reconnects every
    RECYCLE_EVERY queries, replaying the recorded CREATE VIEW DDL.

    The memory cap alone stopped being enough as the registry grew: a
    module-scoped connection that compiles hundreds of large oracle
    queries in one process accumulates allocator state until a query
    that passes in isolation dies with OutOfMemory/bad-alloc under
    full-suite pressure (r10: shuffled-matrix docs_semdedup and
    docs_cluster_canonical at 4GB cap, both green standalone).
    Recycling frees the arenas; views are lazy so replay costs
    nothing. Safe because every matrix test consumes its relation
    before the next .sql() call — the reconnect happens only between
    queries."""

    # Belt-and-braces only since the r11 oracle-footprint rewrite
    # (functions/vectors.py bounded forms): the suites pass with
    # recycling disabled (SPARK_GRAFT_DUCK_RECYCLE=0 — verified on the
    # shuffled + NULL-docs matrices, the two that OOM'd in r10). Keep
    # the default recycle so an unrelated allocator regression can't
    # take the whole suite down with it.
    RECYCLE_EVERY = int(os.environ.get("SPARK_GRAFT_DUCK_RECYCLE", "24") or 0) or (
        1 << 30
    )

    # Statement routing (ADVICE r10: the old exact-prefix 'CREATE VIEW'
    # match silently LOST 'CREATE OR REPLACE VIEW' / 'CREATE TEMP VIEW'
    # and 'SET' at the next recycle — a CatalogException 24 queries
    # later, far from the cause). Views and SET/PRAGMA are replayable
    # session state → record + replay on reconnect; plain queries go
    # through the counting path; ANYTHING else is unrecognized DDL that
    # a reconnect cannot replay → pin the connection for its lifetime.
    _REPLAY = re.compile(
        r"^\s*(CREATE\s+(OR\s+REPLACE\s+)?(TEMP(ORARY)?\s+)?VIEW\b|SET\b|PRAGMA\b)",
        re.IGNORECASE,
    )
    _QUERY = re.compile(
        r"^\s*(SELECT|WITH|VALUES|EXPLAIN|DESCRIBE|SHOW|SUMMARIZE|FROM)\b",
        re.IGNORECASE,
    )

    def __init__(self):
        self._con = _fresh_duck()
        self._ddl: list[tuple[str, dict]] = []
        self._n = 0
        self._pinned = False

    def _route(self, method, q, *a, **kw):
        if self._REPLAY.match(q):
            self._ddl.append((q, kw))
            return getattr(self._con, method)(q, *a, **kw)
        if not self._QUERY.match(q):
            self._pinned = True
        self._n += 1
        if not self._pinned and self._n % self.RECYCLE_EVERY == 0:
            self._con.close()
            self._con = _fresh_duck()
            for ddl, dkw in self._ddl:
                self._con.sql(ddl, **dkw)
        return getattr(self._con, method)(q, *a, **kw)

    def sql(self, q, *a, **kw):
        return self._route("sql", q, *a, **kw)

    def execute(self, q, *a, **kw):
        return self._route("execute", q, *a, **kw)

    def __getattr__(self, name):
        # Any un-wrapped connection method (executemany, cursor, ...)
        # may create unreplayable state: pin conservatively and
        # delegate. Consumers that stick to sql()/execute() keep
        # recycling.
        self._pinned = True
        return getattr(self._con, name)


def capped_duck():
    """DuckDB handle with the same memory cap + spill directory as
    testing.duck_connection, PLUS periodic connection recycling (see
    _RecyclingDuck): the default memory_limit (~80% of physical RAM)
    over-commits next to the resident Spark JVM, and under full-suite
    pressure long-lived matrix connections died on oracles that pass
    in isolation (shuffled matrix's docs_semdedup/docs_cluster_canonical
    this round; emb_semdedup and the NULL-events compressed_io run
    before the cap landed). Matrix fixtures register their own views,
    so this only standardizes the resource settings."""
    return _RecyclingDuck()


class Background:
    """A child process started at collection time and awaited by the
    test that checks it. Such a test module sets `AWAITS_BACKGROUND =
    True` and runs after every other test, so its children overlap the
    rest of the suite instead of adding to its wall time. `timeout`
    bounds the child's own run, as `subprocess.run(timeout=)` does."""

    _started: list["Background"] = []

    def __init__(self, argv: list[str], env: dict, timeout: float):
        self.proc = subprocess.Popen(
            argv, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, start_new_session=True,
        )
        self._timeout = timeout
        self._result: subprocess.CompletedProcess | None = None
        self._error: BaseException | None = None
        self._thread = threading.Thread(target=self._wait, daemon=True)
        self._thread.start()
        Background._started.append(self)

    def _wait(self) -> None:
        try:
            out, err = self.proc.communicate(timeout=self._timeout)
            self._result = subprocess.CompletedProcess(
                self.proc.args, self.proc.returncode, out, err
            )
        except subprocess.TimeoutExpired as e:
            self.kill()
            self.proc.communicate()
            self._error = e

    def kill(self) -> None:
        """SIGKILL the child's whole process group (a Spark child
        leaves its JVM behind otherwise)."""
        with contextlib.suppress(ProcessLookupError):
            os.killpg(self.proc.pid, signal.SIGKILL)

    def result(self) -> subprocess.CompletedProcess:
        self._thread.join()
        if self._error is not None:
            raise self._error
        return self._result


def pytest_collection_modifyitems(items):
    # Stable sort: module order is kept within both groups.
    items.sort(
        key=lambda item: bool(getattr(getattr(item, "module", None), "AWAITS_BACKGROUND", False))
    )


def pytest_sessionfinish(session, exitstatus):
    for job in Background._started:
        job.kill()
