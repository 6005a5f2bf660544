"""Fault injection on the ParquetTable commit: a writer process is
killed (`os._exit`, then SIGKILL of its JVM, so no cleanup of any kind
runs) at each step of a merge commit — mid Spark write to the staging
dir, after data + schema, after the hardlinks but before the publishing
rename, and after the rename. After every kill the table must stay
usable: history() and read(version=) show committed versions only, the
next merge commits, and vacuum keeps the current version and reaps what
the dead writer left behind.

The writers are started when this module is collected and run while
the rest of the suite does; each test awaits its writer, then checks
the table."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import signal
import sys
import tempfile
import time

import pytest
from pyspark.sql import types as T

from pse_stocks_etl_spark.store.parquet_table import ParquetTable

from conftest import Background

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KILLED = 17

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("d", T.DateType(), False),
        T.StructField("v", T.DoubleType(), True),
    ]
)


def _day(n: int) -> list[tuple]:
    d = dt.date(2024, 1, n)
    return [(k, d, float(n * 10 + i)) for i, k in enumerate("ABC")]


# The child commits _day(1) and _day(2) as v1 and v2, then merges
# _day(3) and dies at `step`. For "mid_write" that batch goes through a
# slow UDF, so the kill lands while Spark is still writing the staging
# dir (its `_temporary` exists).
_CHILD = r"""
import datetime as dt, glob, os, sys, threading, time
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pse_stocks_etl_spark.session import get_spark
from pse_stocks_etl_spark.store.parquet_table import ParquetTable

path, step, killed = sys.argv[1], sys.argv[2], int(sys.argv[3])
schema = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("d", T.DateType(), False),
    T.StructField("v", T.DoubleType(), True),
])
spark = get_spark("crash-child", master="local[1]", shuffle_partitions=1)
t = ParquetTable(spark, path, schema, partition_by=("d",))


def day(n):
    d = dt.date(2024, 1, n)
    return spark.createDataFrame([(k, d, float(n * 10 + i)) for i, k in enumerate("ABC")], schema)


t.overwrite(day(1))
t.merge(day(2), keys=("k", "d"))


def die(*_a, **_k):
    os._exit(killed)


def after(fn):
    def wrapped(*a, **k):
        fn(*a, **k)
        die()
    return wrapped


if step == "mid_write":
    def watch():
        while not glob.glob(os.path.join(path, "_versions", ".stage-*", "_temporary")):
            time.sleep(0.01)
        die()
    threading.Thread(target=watch, daemon=True).start()
elif step == "after_schema":
    t._write_version_schema = after(t._write_version_schema)
elif step == "before_publish":
    t._publish = die
elif step == "after_publish":
    t._publish = after(t._publish)

delay = 1.0 if step == "mid_write" else 0.0
slow = F.udf(lambda v: (time.sleep(delay), v)[1], "double")
d = dt.date(2024, 1, 3)
batch = spark.createDataFrame([(k, d, 30.0 + i) for i, k in enumerate("ABC")], schema)
t.merge(batch.withColumn("v", slow("v")), keys=("k", "d"))
sys.exit(3)  # not killed: the injection point was never reached
"""

STEPS = ["mid_write", "after_schema", "before_publish", "after_publish"]


def _live_group_members(pgid: int) -> list[int]:
    live = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, pgrp = stat[stat.rindex(")") + 2 :].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            live.append(int(pid))
    return live


def _start_writer(step: str) -> tuple[str, Background]:
    path = os.path.join(tempfile.mkdtemp(prefix="store_crash_"), "crash")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        SPARK_DRIVER_MEMORY="512m",
        SPARK_GRAFT_CPUS="1",
    )
    argv = [sys.executable, "-c", _CHILD, path, step, str(KILLED)]
    return path, Background(argv, env=env, timeout=300)


AWAITS_BACKGROUND = True
WRITERS = {step: _start_writer(step) for step in STEPS}


def _await_killed_writer(job: Background) -> None:
    try:
        out = job.result()
    finally:
        # The writer's JVM outlives its Python driver: kill it too, and
        # wait until nothing of the writer can still touch the table.
        job.kill()
        deadline = time.time() + 30
        while _live_group_members(job.proc.pid) and time.time() < deadline:
            time.sleep(0.1)
    assert out.returncode == KILLED, out.stderr[-2000:]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select("k", "d", "v").collect()))


def _uncommitted(path: str) -> list[str]:
    return [e for e in os.listdir(os.path.join(path, "_versions")) if e.startswith(".")]


@pytest.mark.parametrize("step", STEPS)
def test_writer_killed_at_any_commit_step_never_wedges_the_table(spark, step):
    path, job = WRITERS[step]
    want = {1: _day(1), 2: _day(1) + _day(2), 3: _day(1) + _day(2) + _day(3)}

    _await_killed_writer(job)

    committed = [1, 2, 3] if step == "after_publish" else [1, 2]
    t = ParquetTable(spark, path, SCHEMA, partition_by=("d",))
    assert t.history() == committed
    assert t.current_version() == committed[-1]
    for v in committed:
        assert _rows(t.read(version=v)) == sorted(want[v])
    if step != "after_publish":
        assert _uncommitted(path), "the killed writer left no staging dir"

    t.merge(spark.createDataFrame(_day(4), SCHEMA), keys=("k", "d"))
    assert t.history() == committed + [committed[-1] + 1]
    rows = want[committed[-1]] + _day(4)
    assert _rows(t.read()) == sorted(rows)

    t.vacuum(retain_versions=1)
    assert t.history() == [committed[-1] + 1]
    assert _uncommitted(path) == []
    assert _rows(t.read()) == sorted(rows)
    shutil.rmtree(os.path.dirname(path))
