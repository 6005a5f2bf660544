"""ParquetTable storage-layer semantics: K1/K2/K3/K7/K9/K10 plus the
pre-merge dedup invariant and replay idempotency (SURVEY.md §2.2, §7.5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pse_stocks_etl_spark.store.parquet_table import ParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("d", T.DateType(), False),
        T.StructField("v", T.DoubleType(), True),
        T.StructField("extracted_at", T.TimestampType(), True),
    ]
)


def _rows(*specs):
    return [
        (k, dt.date.fromisoformat(d), v, dt.datetime.fromisoformat(ts))
        for k, d, v, ts in specs
    ]


@pytest.fixture
def table(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), SCHEMA)
    t.init_empty()
    return t


def test_init_empty_and_read(table):
    assert table.exists()
    assert table.read().count() == 0
    assert [f.name for f in table.read().schema.fields] == ["k", "d", "v", "extracted_at"]


def test_overwrite_replaces_everything(spark, table):
    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    b = spark.createDataFrame(_rows(("B", "2024-01-02", 2.0, "2024-01-02T00:00:00")), SCHEMA)
    table.overwrite(a)
    table.overwrite(b)
    got = table.read().collect()
    assert [r.k for r in got] == ["B"]


def test_merge_insert_update(spark, table):
    t0 = spark.createDataFrame(
        _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
              ("B", "2024-01-01", 2.0, "2024-01-01T00:00:00")), SCHEMA)
    table.overwrite(t0)
    src = spark.createDataFrame(
        _rows(("B", "2024-01-01", 20.0, "2024-01-02T00:00:00"),   # update
              ("C", "2024-01-01", 3.0, "2024-01-02T00:00:00")),   # insert
        SCHEMA)
    table.merge(src, keys=("k", "d"))
    got = {r.k: r.v for r in table.read().collect()}
    assert got == {"A": 1.0, "B": 20.0, "C": 3.0}


def test_merge_freshness_guard_keeps_newer_target(spark, table):
    t0 = spark.createDataFrame(
        _rows(("A", "2024-01-01", 1.0, "2024-01-05T00:00:00")), SCHEMA)
    table.overwrite(t0)
    stale = spark.createDataFrame(
        _rows(("A", "2024-01-01", 99.0, "2024-01-02T00:00:00")), SCHEMA)
    table.merge(stale, keys=("k", "d"), freshness_col="extracted_at")
    assert table.read().collect()[0].v == 1.0  # stale source skipped (K3)


def test_merge_dedups_source_before_upsert(spark, table):
    src = spark.createDataFrame(
        _rows(("A", "2024-01-01", 5.0, "2024-01-01T00:00:00"),
              ("A", "2024-01-01", 9.0, "2024-01-01T00:00:00")), SCHEMA)
    table.merge(src, keys=("k", "d"), dedup_order=[F.col("v").desc()])
    got = table.read().collect()
    assert len(got) == 1 and got[0].v == 9.0  # A2: max-v row wins


def test_merge_replay_is_idempotent(spark, table):
    src = spark.createDataFrame(
        _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
              ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00")), SCHEMA)
    table.merge(src, keys=("k", "d"), freshness_col="extracted_at")
    v1 = sorted(map(tuple, table.read().collect()))
    table.merge(src, keys=("k", "d"), freshness_col="extracted_at")
    assert sorted(map(tuple, table.read().collect())) == v1  # T4


def test_delete_condition_and_all(spark, table):
    t0 = spark.createDataFrame(
        _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
              ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00")), SCHEMA)
    table.overwrite(t0)
    table.delete(F.col("k") == "A")
    assert [r.k for r in table.read().collect()] == ["B"]
    table.delete()
    assert table.read().count() == 0  # K7 delete-all


def test_vacuum_keeps_current(spark, table):
    for i in range(4):
        table.overwrite(
            spark.createDataFrame(_rows(("A", "2024-01-01", float(i), "2024-01-01T00:00:00")), SCHEMA)
        )
    removed = table.vacuum(retain_versions=2)
    assert removed  # old versions gone
    assert table.read().collect()[0].v == 3.0  # current still readable


def test_vacuum_retain_zero_keeps_only_current(spark, table):
    for i in range(3):
        table.overwrite(
            spark.createDataFrame(_rows(("A", "2024-01-01", float(i), "2024-01-01T00:00:00")), SCHEMA)
        )
    with pytest.raises(ValueError):
        table.vacuum(retain_versions=-1)
    assert table.history() == [1, 2, 3, 4]  # init_empty + 3 overwrites
    assert table.vacuum(retain_versions=0) == ["v00001", "v00002", "v00003"]
    assert table.history() == [4]
    assert table.read().collect()[0].v == 2.0


def test_empty_source_merge_noop(spark, table):
    t0 = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    table.overwrite(t0)
    before = table.history()
    empty = spark.createDataFrame([], SCHEMA)
    table.merge(empty, keys=("k", "d"))
    assert table.read().count() == 1  # empty-input edge (SURVEY §7.5 risk 5)
    # and no version burned: a no-op sync poll must not commit
    assert table.history() == before


PART_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("d", T.DateType(), False),
        T.StructField("v", T.DoubleType(), True),
        T.StructField("extracted_at", T.TimestampType(), True),
    ]
)


def test_partitioned_merge_rewrites_only_affected_partitions(spark, tmp_path):
    import os

    t = ParquetTable(spark, str(tmp_path / "pt"), PART_SCHEMA, partition_by=("d",))
    t.overwrite(
        spark.createDataFrame(
            _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
                  ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00"),
                  ("C", "2024-01-03", 3.0, "2024-01-01T00:00:00")), PART_SCHEMA)
    )
    v1_dir = os.path.join(str(tmp_path / "pt"), "_versions", "v00001")
    inodes_before = {
        fn: os.stat(os.path.join(v1_dir, "d=2024-01-01", fn)).st_ino
        for fn in os.listdir(os.path.join(v1_dir, "d=2024-01-01"))
        if fn.endswith(".parquet")
    }
    # merge touches only 2024-01-02 and 2024-01-03
    src = spark.createDataFrame(
        _rows(("B", "2024-01-02", 20.0, "2024-01-02T00:00:00"),
              ("D", "2024-01-03", 4.0, "2024-01-02T00:00:00")), PART_SCHEMA)
    t.merge(src, keys=("k", "d"), freshness_col="extracted_at")
    got = {(r.k, str(r.d)): r.v for r in t.read().collect()}
    assert got == {
        ("A", "2024-01-01"): 1.0,
        ("B", "2024-01-02"): 20.0,
        ("C", "2024-01-03"): 3.0,
        ("D", "2024-01-03"): 4.0,
    }
    # untouched partition carried over as hardlinks (same inodes)
    v2_dir = os.path.join(str(tmp_path / "pt"), "_versions", "v00002")
    inodes_after = {
        fn: os.stat(os.path.join(v2_dir, "d=2024-01-01", fn)).st_ino
        for fn in os.listdir(os.path.join(v2_dir, "d=2024-01-01"))
        if fn.endswith(".parquet")
    }
    assert inodes_after == inodes_before


def test_optimize_clusters_and_preserves_content(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "opt"), PART_SCHEMA)
    t.overwrite(
        spark.createDataFrame(
            _rows(("B", "2024-01-02", 2.0, "2024-01-01T00:00:00"),
                  ("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
                  ("C", "2024-01-03", 3.0, "2024-01-01T00:00:00")), PART_SCHEMA)
    )
    before = sorted(map(tuple, t.read().collect()))
    t.optimize(cluster_by=("k",))
    assert sorted(map(tuple, t.read().collect())) == before


def test_partitioned_merge_null_partition_falls_back(spark, tmp_path):
    """Source rows with NULL partition values take the pruned path like
    any other batch: the prune is null-safe (isin() OR IS NULL, since
    isin() never matches NULL), so they still merge correctly, and the
    untouched d=2024-01-01 partition is carried as hardlinks, not
    rewritten by a full merge."""
    import os

    nullable = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("d", T.DateType(), True),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("extracted_at", T.TimestampType(), True),
        ]
    )
    t = ParquetTable(spark, str(tmp_path / "np"), nullable, partition_by=("d",))
    t.overwrite(
        spark.createDataFrame(
            _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), nullable)
    )
    src = spark.createDataFrame(
        [("B", None, 2.0, dt.datetime(2024, 1, 2))], nullable
    )
    untouched = os.path.join(t.path, "_versions", "v00001", "d=2024-01-01")
    inodes = {os.stat(os.path.join(untouched, f)).st_ino for f in os.listdir(untouched)}
    t.merge(src, keys=("k", "d"))
    got = sorted((r.k, r.d, r.v) for r in t.read().collect())
    assert got == [("A", dt.date(2024, 1, 1), 1.0), ("B", None, 2.0)]
    carried = os.path.join(t.path, "_versions", "v00002", "d=2024-01-01")
    assert {os.stat(os.path.join(carried, f)).st_ino for f in os.listdir(carried)} == inodes
    # replay converges (the NULL-key row matches itself)
    t.merge(src, keys=("k", "d"))
    assert t.read().count() == 2


def test_delete_keeps_null_predicate_rows(spark, table):
    """SQL/Delta DELETE removes only predicate-TRUE rows; a NULL
    predicate (v IS NULL here) must keep the row (ADVICE r1)."""
    t0 = spark.createDataFrame(
        _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"))
        + [("N", dt.date(2024, 1, 2), None, dt.datetime(2024, 1, 1))],
        SCHEMA,
    )
    table.overwrite(t0)
    table.delete(F.col("v") > 5.0)  # NULL > 5.0 evaluates NULL, not TRUE
    assert sorted(r.k for r in table.read().collect()) == ["A", "N"]
    table.delete(F.col("v") <= 5.0)
    assert [r.k for r in table.read().collect()] == ["N"]


def test_partitioned_merge_hive_escaped_partition_values(spark, tmp_path):
    """String partition values with characters Spark Hive-escapes in dir
    names (':' -> %3A) must not resurrect the stale pre-merge partition
    via the hardlink carry (ADVICE r1: exclusion set now derives from
    the dirs Spark actually wrote, not str(v))."""
    schema = T.StructType(
        [
            T.StructField("sym", T.StringType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    t = ParquetTable(spark, str(tmp_path / "esc"), schema, partition_by=("sym",))
    t.overwrite(
        spark.createDataFrame([("a:b", 1.0), ("plain", 2.0), ("x%y", 3.0)], schema)
    )
    src = spark.createDataFrame([("a:b", 10.0), ("x%y", 30.0)], schema)
    t.merge(src, keys=("sym",))
    got = sorted((r.sym, r.v) for r in t.read().collect())
    # the old a:b / x%y rows must NOT be duplicated alongside the merged ones
    assert got == [("a:b", 10.0), ("plain", 2.0), ("x%y", 30.0)]
    # replay converges too
    t.merge(src, keys=("sym",))
    assert t.read().count() == 3


def test_time_travel_read_and_history(table, spark):
    v1 = _rows(("a", "2024-01-01", 1.0, "2024-01-01T00:00:00"))
    v2 = _rows(("a", "2024-01-01", 2.0, "2024-01-02T00:00:00"),
               ("b", "2024-01-02", 3.0, "2024-01-02T00:00:00"))
    table.overwrite(spark.createDataFrame(v1, SCHEMA))
    table.overwrite(spark.createDataFrame(v2, SCHEMA))
    assert table.history() == [1, 2, 3]  # init_empty is v1
    assert table.read().count() == 2
    assert table.read(version=2).collect()[0].v == 1.0
    assert table.read(version=1).count() == 0
    # vacuum reclaims old versions; time travel then reports what's left
    table.vacuum(retain_versions=1)
    with pytest.raises(ValueError, match="not retained"):
        table.read(version=1)
    assert table.read(version=3).count() == 2


def test_merge_schema_evolution(table, spark, tmp_path):
    table.overwrite(
        spark.createDataFrame(
            _rows(("a", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA
        )
    )
    evolved = T.StructType(
        SCHEMA.fields + [T.StructField("note", T.StringType(), True)]
    )
    src = spark.createDataFrame(
        [
            ("a", dt.date(2024, 1, 1), 9.0, dt.datetime(2024, 1, 2), "upd"),
            ("b", dt.date(2024, 1, 2), 2.0, dt.datetime(2024, 1, 2), "new"),
        ],
        evolved,
    )
    table.merge(src, keys=("k", "d"), evolve_schema=True)
    out = {r.k: r for r in table.read().collect()}
    assert set(table.read().columns) == {"k", "d", "v", "extracted_at", "note"}
    assert out["a"].note == "upd" and out["a"].v == 9.0
    assert out["b"].note == "new"
    # A fresh handle constructed with the ORIGINAL schema sees the
    # evolved one (the table owns its schema, like the Delta log).
    t2 = ParquetTable(spark, table.path, SCHEMA)
    assert "note" in t2.read().columns
    # Time travel replays the schema AS OF that version (Delta
    # versionAsOf semantics): the pre-evolution version has no `note`.
    old = t2.read(version=2)
    assert "note" not in old.columns
    assert old.count() == 1


def test_schema_evolution_atomic_on_failed_commit(spark, tmp_path):
    t = ParquetTable(
        spark, str(tmp_path / "evo"), SCHEMA, constraints={"v_pos": "v > 0"}
    )
    t.overwrite(
        spark.createDataFrame(
            _rows(("a", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA
        )
    )
    evolved = T.StructType(
        SCHEMA.fields + [T.StructField("note", T.StringType(), True)]
    )
    bad = spark.createDataFrame(
        [("b", dt.date(2024, 1, 2), -5.0, dt.datetime(2024, 1, 2), "boom")],
        evolved,
    )
    with pytest.raises(ValueError, match="v_pos"):
        t.merge(bad, keys=("k", "d"), evolve_schema=True)
    # the failed commit must not leave an evolved schema behind —
    # neither in memory, on disk, nor visible to a fresh handle
    assert "note" not in {f.name for f in t.schema.fields}
    assert "note" not in t.read().columns
    assert "note" not in ParquetTable(spark, t.path, SCHEMA).read().columns


EVOLVED = T.StructType(SCHEMA.fields + [T.StructField("note", T.StringType(), True)])


def _noted(spark, *specs):
    """Rows of the evolved schema: (k, d, v, note)."""
    return spark.createDataFrame(
        [(k, dt.date.fromisoformat(d), v, dt.datetime(2024, 2, 1), n) for k, d, v, n in specs],
        EVOLVED,
    )


@pytest.mark.parametrize("partition_by", [(), ("d",)], ids=["unpartitioned", "partitioned"])
def test_stale_handle_keeps_concurrent_schema_evolution(spark, tmp_path, partition_by):
    """A handle opened before another handle's evolve_schema merge reads
    the evolved column, and its later merge (of an existing row and a
    new one) and overwrite keep it: a write takes its schema from the
    version it is based on, not from the handle."""
    path = str(tmp_path / "stale_schema")
    h1 = ParquetTable(spark, path, SCHEMA, partition_by=partition_by)
    h1.overwrite(
        spark.createDataFrame(_rows(("a", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    )
    h2 = ParquetTable(spark, path, SCHEMA, partition_by=partition_by)
    h1.merge(_noted(spark, ("b", "2024-01-02", 2.0, "x")), keys=("k", "d"), evolve_schema=True)
    assert h2.schema == h1.schema
    assert "note" in h2.read().columns
    h2.merge(
        _noted(spark, ("b", "2024-01-02", 20.0, "y"), ("c", "2024-01-03", 3.0, "z")),
        keys=("k", "d"),
    )
    fresh = ParquetTable(spark, path, SCHEMA)
    assert set(fresh.read().columns) == set(EVOLVED.fieldNames())
    got = {r.k: (r.v, r.note) for r in fresh.read().collect()}
    assert got == {"a": (1.0, None), "b": (20.0, "y"), "c": (3.0, "z")}
    h2.overwrite(_noted(spark, ("d", "2024-01-04", 4.0, "w")))
    assert [(r.k, r.note) for r in fresh.read().collect()] == [("d", "w")]


def test_failed_restore_leaves_handle_schema_current(spark, tmp_path):
    """A restore whose commit fails (here, a CHECK violation in the
    restored rows) changes nothing: the handle's schema stays the
    table's, and its next merge keeps the evolved column."""
    path = str(tmp_path / "restore_fail")
    loose = ParquetTable(spark, path, SCHEMA)
    loose.overwrite(
        spark.createDataFrame(_rows(("a", "2024-01-01", -1.0, "2024-01-01T00:00:00")), SCHEMA)
    )
    loose.merge(_noted(spark, ("a", "2024-01-01", 1.0, "x")), keys=("k", "d"), evolve_schema=True)
    t = ParquetTable(spark, path, SCHEMA, constraints={"v_pos": "v > 0"})
    with pytest.raises(ValueError, match="v_pos"):
        t.restore(1)  # v1 holds v = -1
    assert t.history() == [1, 2]
    assert t.schema == ParquetTable(spark, path, SCHEMA).schema
    t.merge(_noted(spark, ("c", "2024-01-03", 3.0, "y")), keys=("k", "d"))
    got = {r.k: r.note for r in ParquetTable(spark, path, SCHEMA).read().collect()}
    assert got == {"a": "x", "c": "y"}


def test_version_numbers_continue_past_99999(spark, tmp_path):
    """Five digits pad version names but do not bound them: after v99999
    the table commits, lists, reads and vacuums v100000 and v100001
    like any other version."""
    import os

    t = ParquetTable(spark, str(tmp_path / "wide"), SCHEMA)
    t.overwrite(spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA))
    vdir = os.path.join(t.path, "_versions")
    os.rename(os.path.join(vdir, "v00001"), os.path.join(vdir, "v99999"))
    t.overwrite(spark.createDataFrame(_rows(("B", "2024-01-02", 2.0, "2024-01-02T00:00:00")), SCHEMA))
    t.merge(
        spark.createDataFrame(_rows(("C", "2024-01-03", 3.0, "2024-01-03T00:00:00")), SCHEMA),
        keys=("k", "d"),
    )
    assert t.history() == [99999, 100000, 100001]
    assert sorted(r.k for r in t.read().collect()) == ["B", "C"]
    assert [r.k for r in t.read(version=100000).collect()] == ["B"]
    assert t.vacuum(retain_versions=2) == ["v99999"]
    assert t.history() == [100000, 100001]


def test_history_ignores_stray_version_artifacts(spark, tmp_path):
    import os

    t = ParquetTable(spark, str(tmp_path / "stray"), SCHEMA)
    t.overwrite(
        spark.createDataFrame(
            _rows(("a", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA
        )
    )
    # a partial artifact and a stray file must not break history/vacuum
    os.makedirs(os.path.join(t.path, "_versions", "v_tmp"))
    with open(os.path.join(t.path, "_versions", "junk.txt"), "w") as f:
        f.write("x")
    assert t.history() == [1]
    assert t.read().count() == 1
    assert t.vacuum(retain_versions=1) == []


def test_check_constraint_blocks_bad_commit(spark, tmp_path):
    t = ParquetTable(
        spark, str(tmp_path / "c"), SCHEMA, constraints={"v_pos": "v > 0"}
    )
    t.init_empty()
    ok = _rows(("a", "2024-01-01", 1.0, "2024-01-01T00:00:00"))
    t.overwrite(spark.createDataFrame(ok, SCHEMA))
    assert t.read().count() == 1
    bad = _rows(("b", "2024-01-02", -5.0, "2024-01-02T00:00:00"))
    with pytest.raises(ValueError, match="v_pos"):
        t.overwrite(spark.createDataFrame(bad, SCHEMA))
    assert t.read().count() == 1  # failed commit left the table untouched
    # NULL predicate passes (SQL CHECK semantics), like Delta.
    nullv = [("c", dt.date(2024, 1, 3), None, dt.datetime(2024, 1, 3))]
    t.merge(spark.createDataFrame(nullv, SCHEMA), keys=("k", "d"))
    assert t.read().count() == 2


def test_commit_is_atomic_for_concurrent_readers(table, spark):
    """Pointer-swap atomicity: a reader that resolved the CURRENT
    pointer before a new commit keeps reading its complete old version
    (never a half-written directory), and a fresh resolve sees the new
    one. This is the single-writer Delta-log-style guarantee the store
    documents."""
    v1 = _rows(("a", "2024-01-01", 1.0, "2024-01-01T00:00:00"))
    table.overwrite(spark.createDataFrame(v1, SCHEMA))
    old_reader = table.read()  # plan bound to the old version dir
    old_version = table.current_version()
    v2 = _rows(
        ("b", "2024-01-02", 2.0, "2024-01-02T00:00:00"),
        ("c", "2024-01-03", 3.0, "2024-01-03T00:00:00"),
    )
    table.overwrite(spark.createDataFrame(v2, SCHEMA))
    # The pre-commit reader still sees exactly the old snapshot...
    assert [r.k for r in old_reader.collect()] == ["a"]
    # ...while a new resolve sees the new version, fully.
    assert table.current_version() == old_version + 1
    assert sorted(r.k for r in table.read().collect()) == ["b", "c"]


# ----------------------------------------------------- restore / OCC --
def test_restore_recommits_old_version(spark, table):
    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    b = spark.createDataFrame(_rows(("B", "2024-01-02", 2.0, "2024-01-02T00:00:00")), SCHEMA)
    table.overwrite(a)           # v2 (v1 = init_empty)
    v_a = table.current_version()
    table.overwrite(b)           # v3
    table.restore(v_a)           # v4 == v2's content
    assert [r.k for r in table.read().collect()] == ["A"]
    # history preserved: restore is a commit, nothing deleted
    assert table.history() == [1, 2, 3, 4]
    # the bad state is still retained and can be restored away again
    table.restore(3)
    assert [r.k for r in table.read().collect()] == ["B"]


def test_restore_replays_pre_evolution_schema(spark, table):
    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    table.overwrite(a)
    v_before = table.current_version()
    evolved = T.StructType(list(SCHEMA.fields) + [T.StructField("extra", T.LongType(), True)])
    src = spark.createDataFrame(
        [("A", dt.date(2024, 1, 1), 9.0, dt.datetime(2024, 1, 2), 7)], evolved
    )
    table.merge(src, keys=["k", "d"], evolve_schema=True)
    assert "extra" in [f.name for f in table.read().schema.fields]
    table.restore(v_before)
    assert "extra" not in [f.name for f in table.read().schema.fields]


def test_concurrent_overwrite_with_expected_version_conflicts(spark, tmp_path):
    from pse_stocks_etl_spark.store.parquet_table import ConcurrentWriteError

    path = str(tmp_path / "occ")
    t1 = ParquetTable(spark, path, SCHEMA)
    t1.init_empty()
    t2 = ParquetTable(spark, path, SCHEMA)
    base = t2.current_version()
    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    b = spark.createDataFrame(_rows(("B", "2024-01-02", 2.0, "2024-01-02T00:00:00")), SCHEMA)
    t1.overwrite(a)  # advances past t2's snapshot
    with pytest.raises(ConcurrentWriteError):
        t2.overwrite(b, expected_version=base)
    # blind overwrite (no expected_version) still allowed by design
    t2.overwrite(b)
    assert [r.k for r in t2.read().collect()] == ["B"]


def test_concurrent_merge_retries_and_preserves_both_writes(spark, tmp_path):
    """Two handles merge different keys concurrently: the second commit
    sees the version advance, re-reads, re-merges, and both rows land —
    Delta's retry semantics for non-overlapping writers."""
    from pse_stocks_etl_spark.store import parquet_table as ptmod

    path = str(tmp_path / "occ2")
    t1 = ParquetTable(spark, path, SCHEMA)
    t1.init_empty()
    t2 = ParquetTable(spark, path, SCHEMA)

    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    b = spark.createDataFrame(_rows(("B", "2024-01-02", 2.0, "2024-01-02T00:00:00")), SCHEMA)

    # Interleave: t2 stages its version, then t1 commits, then t2 publishes.
    orig_publish = ptmod.ParquetTable._publish
    state = {"interposed": False}

    def racing_publish(self, stage, version):
        if self is t2 and not state["interposed"]:
            state["interposed"] = True
            t1.merge(a, keys=["k", "d"])  # concurrent writer wins first
        return orig_publish(self, stage, version)

    ptmod.ParquetTable._publish = racing_publish
    try:
        t2.merge(b, keys=["k", "d"])  # retries internally
    finally:
        ptmod.ParquetTable._publish = orig_publish
    got = sorted(r.k for r in t2.read().collect())
    assert got == ["A", "B"]


def test_conflict_without_retries_raises(spark, tmp_path, monkeypatch):
    from pse_stocks_etl_spark.store import parquet_table as ptmod
    from pse_stocks_etl_spark.store.parquet_table import ConcurrentWriteError

    path = str(tmp_path / "occ3")
    t1 = ParquetTable(spark, path, SCHEMA)
    t1.init_empty()
    t2 = ParquetTable(spark, path, SCHEMA)
    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    b = spark.createDataFrame(_rows(("B", "2024-01-02", 2.0, "2024-01-02T00:00:00")), SCHEMA)

    orig_publish = ptmod.ParquetTable._publish
    state = {"interposed": False}

    def racing_publish(self, stage, version):
        if self is t2 and not state["interposed"]:
            state["interposed"] = True
            t1.merge(a, keys=["k", "d"])
        return orig_publish(self, stage, version)

    monkeypatch.setattr(ptmod, "_CONFLICT_RETRIES", 0)
    ptmod.ParquetTable._publish = racing_publish
    try:
        with pytest.raises(ConcurrentWriteError):
            t2.merge(b, keys=["k", "d"])
    finally:
        ptmod.ParquetTable._publish = orig_publish


def _uncommitted(path):
    """Staging (`.stage-*`) and trash (`.trash-*`) entries of a table."""
    import os

    return [e for e in os.listdir(os.path.join(path, "_versions")) if e.startswith(".")]


def test_published_version_is_never_replaced(spark, tmp_path, monkeypatch):
    """The publishing rename is put-if-absent: when another writer has
    published the next version number meanwhile, the commit fails
    instead of replacing or stacking onto that version, and leaves no
    staging dir behind."""
    import os
    import shutil

    from pse_stocks_etl_spark.store import parquet_table as ptmod
    from pse_stocks_etl_spark.store.parquet_table import ConcurrentWriteError

    path = str(tmp_path / "put_if_absent")
    t = ParquetTable(spark, path, SCHEMA)
    t.init_empty()
    nxt = t.current_version() + 1
    orig_publish = ptmod.ParquetTable._publish

    def rival_first(self, stage, version):
        vdir = os.path.join(path, "_versions")
        shutil.copytree(os.path.join(vdir, f"v{nxt - 1:05d}"), os.path.join(vdir, f"v{nxt:05d}"))
        return orig_publish(self, stage, version)

    monkeypatch.setattr(ptmod.ParquetTable, "_publish", rival_first)
    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    with pytest.raises(ConcurrentWriteError):
        t.overwrite(a)
    assert t.history() == [nxt - 1, nxt]
    assert t.read().count() == 0  # the rival's (empty) version, not ours
    assert _uncommitted(path) == []


def test_leftover_staging_dir_does_not_block_commit(spark, tmp_path):
    """A writer killed before its publish leaves only a staging dir: it
    never shows in history(), the next commit takes the next version
    number, and vacuum reaps it once its base is no longer current."""
    import os

    path = str(tmp_path / "stage")
    t = ParquetTable(spark, path, SCHEMA)
    t.init_empty()
    base = t.current_version()
    orphan = os.path.join(path, "_versions", f".stage-{base:05d}-0123abcd")
    os.makedirs(os.path.join(orphan, "_temporary"))
    open(os.path.join(orphan, "part-00000.parquet"), "w").close()
    a = spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA)
    t.overwrite(a)
    assert t.history() == [base, base + 1]
    assert [r.k for r in t.read().collect()] == ["A"]
    assert t.vacuum(retain_versions=2) == []
    assert _uncommitted(path) == []


def test_partitioned_merge_conflict_retry_preserves_both(spark, tmp_path):
    """OCC on the partition-pruned merge path: a concurrent writer on a
    DIFFERENT partition lands between snapshot and commit; the retry
    re-reads and both partitions' rows survive (including the
    hardlinked untouched one)."""
    from pse_stocks_etl_spark.store import parquet_table as ptmod

    path = str(tmp_path / "ptocc")
    t1 = ParquetTable(spark, path, PART_SCHEMA, partition_by=("d",))
    t1.overwrite(
        spark.createDataFrame(
            _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
                  ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00")), PART_SCHEMA)
    )
    t2 = ParquetTable(spark, path, PART_SCHEMA, partition_by=("d",))
    s1 = spark.createDataFrame(
        _rows(("A", "2024-01-01", 10.0, "2024-01-02T00:00:00")), PART_SCHEMA)
    s2 = spark.createDataFrame(
        _rows(("B", "2024-01-02", 20.0, "2024-01-02T00:00:00")), PART_SCHEMA)

    orig_publish = ptmod.ParquetTable._publish
    state = {"interposed": False}

    def racing_publish(self, stage, version):
        if self is t2 and not state["interposed"]:
            state["interposed"] = True
            t1.merge(s1, keys=("k", "d"), freshness_col="extracted_at")
        return orig_publish(self, stage, version)

    ptmod.ParquetTable._publish = racing_publish
    try:
        t2.merge(s2, keys=("k", "d"), freshness_col="extracted_at")
    finally:
        ptmod.ParquetTable._publish = orig_publish
    got = {(r.k, str(r.d)): r.v for r in t2.read().collect()}
    assert got == {("A", "2024-01-01"): 10.0, ("B", "2024-01-02"): 20.0}


def test_restore_partitioned_version_with_hardlinked_dirs(spark, tmp_path):
    """RESTORE of a version whose partition dirs were carried by
    hardlink: the restored commit must materialize the full table
    content of that version."""
    t = ParquetTable(spark, str(tmp_path / "ptr"), PART_SCHEMA, partition_by=("d",))
    t.overwrite(
        spark.createDataFrame(
            _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
                  ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00")), PART_SCHEMA)
    )
    v_good = t.current_version()
    t.merge(
        spark.createDataFrame(
            _rows(("B", "2024-01-02", 99.0, "2024-01-02T00:00:00")), PART_SCHEMA),
        keys=("k", "d"),
        freshness_col="extracted_at",
    )  # pruned commit: d=2024-01-01 hardlinked into the new version
    t.restore(v_good)
    got = {(r.k, str(r.d)): r.v for r in t.read().collect()}
    assert got == {("A", "2024-01-01"): 1.0, ("B", "2024-01-02"): 2.0}


@pytest.mark.parametrize("op", ["delete", "optimize"])
def test_rewrite_never_discards_a_concurrent_merge(spark, tmp_path, monkeypatch, op):
    """delete(condition) and optimize rewrite the version they read: a
    merge that commits between that read and the rewrite's commit makes
    the rewrite fail with ConcurrentWriteError instead of silently
    committing over (and so discarding) the merge's rows."""
    from pse_stocks_etl_spark.store import parquet_table as ptmod
    from pse_stocks_etl_spark.store.parquet_table import ConcurrentWriteError

    path = str(tmp_path / "lost_update")
    t1 = ParquetTable(spark, path, SCHEMA)
    t1.overwrite(
        spark.createDataFrame(
            _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
                  ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00")), SCHEMA)
    )
    t2 = ParquetTable(spark, path, SCHEMA)
    c = spark.createDataFrame(_rows(("C", "2024-01-03", 3.0, "2024-01-03T00:00:00")), SCHEMA)
    orig_commit = ptmod.ParquetTable._commit
    state = {"interposed": False}

    def racing_commit(self, *args, **kwargs):
        if self is t2 and not state["interposed"]:
            state["interposed"] = True
            t1.merge(c, keys=["k", "d"])  # lands after t2's read
        return orig_commit(self, *args, **kwargs)

    monkeypatch.setattr(ptmod.ParquetTable, "_commit", racing_commit)
    with pytest.raises(ConcurrentWriteError):
        if op == "delete":
            t2.delete(F.col("k") == "A")
        else:
            t2.optimize(cluster_by=["k"])
    assert sorted(r.k for r in t1.read().collect()) == ["A", "B", "C"]


def test_stale_publish_below_a_newer_version_is_withdrawn(spark, tmp_path, monkeypatch):
    """A writer whose target version number was vacuumed while it wrote
    can publish onto that free number, below the current version: the
    publish is withdrawn (ConcurrentWriteError), so the current version
    never moves backwards and the stale write never shows."""
    from pse_stocks_etl_spark.store import parquet_table as ptmod
    from pse_stocks_etl_spark.store.parquet_table import ConcurrentWriteError

    path = str(tmp_path / "stale")
    t1 = ParquetTable(spark, path, SCHEMA)
    t1.overwrite(spark.createDataFrame(_rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA))
    t2 = ParquetTable(spark, path, SCHEMA)
    orig_projection = ptmod.ParquetTable._guarded_projection
    state = {"interposed": False}

    def racing_projection(self, df):
        if self is t2 and not state["interposed"]:  # t2 targets v2 by now
            state["interposed"] = True
            for k in "BC":
                t1.merge(
                    spark.createDataFrame(_rows((k, "2024-01-02", 2.0, "2024-01-02T00:00:00")), SCHEMA),
                    keys=["k", "d"],
                )
            assert t1.vacuum(retain_versions=1) == ["v00001", "v00002"]
        return orig_projection(self, df)

    monkeypatch.setattr(ptmod.ParquetTable, "_guarded_projection", racing_projection)
    stale = spark.createDataFrame(_rows(("Z", "2024-01-09", 9.0, "2024-01-09T00:00:00")), SCHEMA)
    with pytest.raises(ConcurrentWriteError, match="older than the current"):
        t2.overwrite(stale)
    assert t1.history() == [3]
    assert sorted(r.k for r in t1.read().collect()) == ["A", "B", "C"]
    assert _uncommitted(path) == []


def test_vacuum_killed_mid_delete_leaves_only_intact_versions(spark, tmp_path, monkeypatch):
    """vacuum renames a version dir out of the version namespace before
    deleting it: a vacuum killed halfway through deleting a version's
    files leaves history() listing only intact versions, each reading
    back its committed rows, and the next vacuum finishes the job."""
    import os

    from pse_stocks_etl_spark.store import parquet_table as ptmod

    path = str(tmp_path / "vac")
    t = ParquetTable(spark, path, SCHEMA)
    for k in "ABC":
        t.merge(
            spark.createDataFrame(_rows((k, "2024-01-01", 1.0, "2024-01-01T00:00:00")), SCHEMA),
            keys=["k", "d"],
        )
    committed = {v: sorted(r.k for r in t.read(version=v).collect()) for v in t.history()}
    assert committed == {1: ["A"], 2: ["A", "B"], 3: ["A", "B", "C"]}

    class Killed(BaseException):
        pass

    def killed_midway(root, *args, **kwargs):
        for dirpath, _, files in os.walk(root):
            for fn in files:
                if fn.endswith(".parquet"):
                    os.remove(os.path.join(dirpath, fn))
        raise Killed

    with monkeypatch.context() as m:
        m.setattr(ptmod.shutil, "rmtree", killed_midway)
        with pytest.raises(Killed):
            t.vacuum(retain_versions=1)
    for v in t.history():
        assert sorted(r.k for r in t.read(version=v).collect()) == committed[v]
    assert t.history()[-1] == 3
    t.vacuum(retain_versions=1)
    assert t.history() == [3]
    assert _uncommitted(path) == []


# ------------------------------------------- fused CHECK / append-only --
@pytest.mark.parametrize("how", ["overwrite", "merge_existing", "merge_new"])
def test_check_violation_leaves_no_version_behind(spark, tmp_path, how):
    """The CHECK constraint runs inside the write job: a violating batch
    raises ValueError, and its staging dir is removed, so the table, its
    history and the next version number are exactly as before — through
    overwrite, the pruned merge of an existing partition, and the
    append-only merge into new ones."""
    import os

    t = ParquetTable(
        spark, str(tmp_path / "cv"), PART_SCHEMA, partition_by=("d",),
        constraints={"v_pos": "v > 0"},
    )
    t.overwrite(
        spark.createDataFrame(
            _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
                  ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00")), PART_SCHEMA)
    )
    history = t.history()
    before = sorted(map(tuple, t.read().collect()))
    nxt = f"v{t.current_version() + 1:05d}"
    bad_day = "2024-01-02" if how == "merge_existing" else "2024-01-03"
    bad = spark.createDataFrame(
        _rows(("B", bad_day, -5.0, "2024-01-03T00:00:00"),
              ("C", bad_day, 3.0, "2024-01-03T00:00:00")), PART_SCHEMA)
    with pytest.raises(ValueError, match="v_pos"):
        if how == "overwrite":
            t.overwrite(bad)
        else:
            t.merge(bad, keys=("k", "d"), freshness_col="extracted_at")
    assert t.history() == history
    assert sorted(map(tuple, t.read().collect())) == before
    vdir = os.path.join(t.path, "_versions")
    assert not os.path.exists(os.path.join(vdir, nxt))
    assert _uncommitted(t.path) == []
    ok = spark.createDataFrame(
        _rows(("C", "2024-01-03", 3.0, "2024-01-03T00:00:00")), PART_SCHEMA)
    t.merge(ok, keys=("k", "d"), freshness_col="extracted_at")
    assert t._pointer() == nxt
    assert t.read().count() == len(before) + 1


def test_append_only_merge_equals_full_merge(spark, tmp_path, monkeypatch):
    """A batch that lands only in new partitions, or in an empty
    unpartitioned table, skips the merge join (merge_dataframes is
    never called) yet commits the same rows merge_dataframes computes
    over the full table from the source deduped by dedup_order, with
    untouched partitions carried as hardlinks."""
    import os

    from pse_stocks_etl_spark.operators.dedup import topk_per_group
    from pse_stocks_etl_spark.operators.merge import merge_dataframes
    from pse_stocks_etl_spark.store import parquet_table as ptmod

    t = ParquetTable(spark, str(tmp_path / "ao"), PART_SCHEMA, partition_by=("d",))
    t.overwrite(
        spark.createDataFrame(
            _rows(("A", "2024-01-01", 1.0, "2024-01-01T00:00:00"),
                  ("B", "2024-01-02", 2.0, "2024-01-01T00:00:00")), PART_SCHEMA)
    )
    src = spark.createDataFrame(
        _rows(("A", "2024-01-03", 5.0, "2024-01-03T00:00:00"),
              ("A", "2024-01-03", 7.0, "2024-01-02T00:00:00"),   # wins on v
              ("B", "2024-01-04", 3.0, "2024-01-03T00:00:00"),
              ("B", "2024-01-04", 3.0, "2024-01-04T00:00:00"),   # wins on ts
              ("C", "2024-01-04", 4.0, "2024-01-04T00:00:00")), PART_SCHEMA)
    dedup_order = [F.col("v").desc(), F.col("extracted_at").desc()]
    deduped = topk_per_group(src, ("k", "d"), dedup_order, k=1)
    kw = dict(freshness_col="extracted_at")
    expected = sorted(
        map(tuple, merge_dataframes(t.read(), deduped, ("k", "d"), **kw).collect())
    )
    empty = ParquetTable(spark, str(tmp_path / "ao_empty"), PART_SCHEMA)
    empty.init_empty()
    expected_empty = sorted(
        map(tuple, merge_dataframes(empty.read(), deduped, ("k", "d"), **kw).collect())
    )

    def no_join_merge(*args, **kwargs):
        raise AssertionError("append-only merge must not plan the merge joins")

    monkeypatch.setattr(ptmod, "merge_dataframes", no_join_merge)
    v1 = os.path.join(t.path, "_versions", t._pointer(), "d=2024-01-01")
    t.merge(src, keys=("k", "d"), dedup_order=dedup_order, **kw)
    assert sorted(map(tuple, t.read().collect())) == expected
    assert len(expected) == 5
    v2 = os.path.join(t.path, "_versions", t._pointer(), "d=2024-01-01")
    assert {os.stat(os.path.join(v1, f)).st_ino for f in os.listdir(v1)} == {
        os.stat(os.path.join(v2, f)).st_ino for f in os.listdir(v2)
    }
    # An unpartitioned empty table takes the same append-only path.
    empty.merge(src, keys=("k", "d"), dedup_order=dedup_order, **kw)
    assert sorted(map(tuple, empty.read().collect())) == expected_empty
    assert len(expected_empty) == 3


def _sync_jobs(spark, tmp_path, lookback_days):
    """Spark job ids of one PseDatasets.sync on 2024-01-23 (8 symbols)
    after a backfill to 2024-01-20, and its result."""
    from pse_stocks_etl_spark.plans.sync import PseDatasets

    ds = PseDatasets(spark, str(tmp_path / "pse"))
    ds.initdb()
    ds.backfill(today="2024-01-20")
    sc = spark.sparkContext
    group = f"sync_jobs_lookback_{lookback_days}"
    sc.setJobGroup(group, "one sync")
    try:
        r = ds.sync(today="2024-01-23", lookback_days=lookback_days)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group), r, len(ds.connector.symbols)


NULLABLE_KEYS = T.StructType(
    [
        T.StructField("k", T.LongType(), True),
        T.StructField("d", T.DateType(), True),
        T.StructField("v", T.LongType(), True),
        T.StructField("fresh", T.LongType(), True),
    ]
)
D0 = dt.date(2024, 1, 1)


@pytest.mark.parametrize(
    "target, batch",
    [
        # One fresh and one stale row for the key of (1, 0, 5): the full
        # outer join matches both against the target row.
        ([(1, D0, 0, 5)], [(1, D0, 1, 9), (1, D0, 2, 0)]),
        # A new partition: the append-only path, which has no join.
        ([(1, D0, 0, 5)], [(2, dt.date(2024, 1, 2), 1, 9), (2, dt.date(2024, 1, 2), 2, 0)]),
        # NULL keys count as equal, as the null-safe merge join matches them.
        ([(1, D0, 0, 5)], [(None, None, 1, 9), (None, None, 2, 9)]),
    ],
    ids=["freshness_guarded", "append_only", "null_keys"],
)
@pytest.mark.parametrize("partition_by", [(), ("d",)], ids=["unpartitioned", "partitioned"])
def test_merge_refuses_a_source_that_repeats_a_key(spark, tmp_path, target, batch, partition_by):
    """A merge without dedup_order refuses a batch with several rows for
    one key, as Delta's MERGE does, before anything is staged: no
    version, staging dir or row changes."""
    t = ParquetTable(spark, str(tmp_path / "dup"), NULLABLE_KEYS, partition_by=partition_by)
    t.overwrite(spark.createDataFrame(target, NULLABLE_KEYS))

    def rows():
        return set(map(tuple, t.read().select(*NULLABLE_KEYS.fieldNames()).collect()))

    history, before = t.history(), rows()
    with pytest.raises(ValueError, match="repeats a key"):
        t.merge(
            spark.createDataFrame(batch, NULLABLE_KEYS),
            keys=("k", "d"),
            freshness_col="fresh",
        )
    assert t.history() == history
    assert rows() == before
    assert _uncommitted(t.path) == []
    # With dedup_order the same batch merges: its first row, the
    # freshest, wins.
    t.merge(
        spark.createDataFrame(batch, NULLABLE_KEYS),
        keys=("k", "d"),
        freshness_col="fresh",
        dedup_order=[F.col("fresh").desc(), F.col("v")],
    )
    want = {r[:2]: r for r in target + [batch[0]]}
    assert rows() == set(want.values())


def test_daily_sync_job_count(spark, tmp_path):
    """One new trading day lands in a new partition: the append-only
    merge, with no join."""
    jobs, r, n_symbols = _sync_jobs(spark, tmp_path, lookback_days=0)
    assert r["price_rows"] == n_symbols
    assert len(jobs) <= 12, len(jobs)


def test_lookback_sync_job_count(spark, tmp_path):
    """A 5-day lookback replays 2024-01-15..22 over existing partitions:
    the keyed merge, one outer join of batch and target slice."""
    jobs, r, n_symbols = _sync_jobs(spark, tmp_path, lookback_days=5)
    assert r["price_rows"] == 6 * n_symbols  # six trading days
    assert len(jobs) <= 14, len(jobs)
