"""Model-based stateful test of ParquetTable: random interleavings of
overwrite / merge / freshness-merge / delete / restore are mirrored
into a pure-python model (current rows + full version history), and
after EVERY step the table must agree with the model — both the
current read and time-travel to every retained version. Single-op
properties live in test_properties.py; this machine checks that the
OPERATIONS COMPOSE (restore-after-merge, merge-after-delete, ...),
which is where versioned stores actually break."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import RuleBasedStateMachine, initialize, invariant, rule

from pyspark.sql import types as T

from pse_stocks_etl_spark.store.parquet_table import ParquetTable



SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("val", T.LongType()),
        T.StructField("fresh", T.LongType()),
    ]
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # k: small domain -> collisions
        st.integers(min_value=0, max_value=99),  # val
        st.integers(min_value=0, max_value=9),   # fresh
    ),
    min_size=0,
    max_size=4,
    unique_by=lambda r: r[0],  # unique keys per batch: merge input contract
)


class _Crash(BaseException):
    """A writer dying mid-commit: not an Exception, so no cleanup runs."""


class StoreMachine(RuleBasedStateMachine):
    spark = None  # class attr, set by the test wrapper

    @initialize(rows=rows_strategy)
    def init_table(self, rows, tmp_path=None):
        import tempfile

        self.root = tempfile.mkdtemp(prefix="store_sm_") + "/t"
        self.table = ParquetTable(self.spark, self.root, SCHEMA)
        df = self.spark.createDataFrame(rows, SCHEMA)
        self.table.overwrite(df)
        self.model = {r[0]: r for r in rows}
        self.versions = [dict(self.model)]  # versions[i] == table version i+1

    def _commit_model(self):
        self.versions.append(dict(self.model))

    @rule(rows=rows_strategy)
    def overwrite(self, rows):
        self.table.overwrite(self.spark.createDataFrame(rows, SCHEMA))
        self.model = {r[0]: r for r in rows}
        self._commit_model()

    @rule(rows=rows_strategy)
    def merge(self, rows):
        self.table.merge(self.spark.createDataFrame(rows, SCHEMA), keys=["k"])
        if rows:  # empty-source merge is a no-op commit-wise
            for r in rows:
                self.model[r[0]] = r
            self._commit_model()

    @rule(rows=rows_strategy)
    def merge_fresh(self, rows):
        self.table.merge(
            self.spark.createDataFrame(rows, SCHEMA),
            keys=["k"],
            freshness_col="fresh",
        )
        if rows:
            for r in rows:
                if r[0] not in self.model or r[2] >= self.model[r[0]][2]:
                    self.model[r[0]] = r
            self._commit_model()

    @rule()
    def delete_all(self):
        self.table.delete()
        self.model = {}
        self._commit_model()

    @rule(
        rows=rows_strategy.filter(bool),
        op=st.sampled_from(["overwrite", "merge"]),
        step=st.sampled_from(["before_schema", "after_schema", "before_publish"]),
    )
    def crash_commit(self, rows, op, step):
        # The writer dies after its data write, after the schema
        # snapshot, or just before the publishing rename: the table,
        # and so the model, must be unchanged.
        method = "_publish" if step == "before_publish" else "_write_version_schema"
        real = getattr(self.table, method)

        def crash(*args):
            if step == "after_schema":
                real(*args)
            raise _Crash(step)

        setattr(self.table, method, crash)
        try:
            with pytest.raises(_Crash):
                df = self.spark.createDataFrame(rows, SCHEMA)
                if op == "overwrite":
                    self.table.overwrite(df)
                else:
                    self.table.merge(df, keys=["k"])
        finally:
            delattr(self.table, method)

    @rule(retain=st.integers(min_value=1, max_value=3))
    def vacuum(self, retain):
        self.table.vacuum(retain_versions=retain)
        # model keeps ALL snapshots (indexed by absolute version number);
        # the invariant only visits versions the table still retains, and
        # restore only picks from history() — so vacuum needs no model
        # mutation beyond what the table itself reports.
        # Only a staging dir derived from the current version (a writer
        # that might still publish) survives a vacuum.
        cur = self.table.current_version()
        left = [e for e in os.listdir(os.path.join(self.root, "_versions")) if e.startswith(".")]
        assert all(e.startswith(f".stage-{cur:05d}-") for e in left), left

    @rule(pick=st.integers(min_value=0, max_value=10_000))
    def restore(self, pick):
        hist = self.table.history()
        version = hist[pick % len(hist)]
        self.table.restore(version)
        self.model = dict(self.versions[version - 1])
        self._commit_model()

    @invariant()
    def table_matches_model(self):
        if not hasattr(self, "table"):
            return
        got = sorted(tuple(r) for r in self.table.read().collect())
        want = sorted(self.model.values())
        assert got == want, f"current: {got} != {want}"

    @invariant()
    def every_retained_version_matches_history(self):
        if not hasattr(self, "table"):
            return
        for v in self.table.history():
            got = sorted(tuple(r) for r in self.table.read(version=v).collect())
            want = sorted(self.versions[v - 1].values())
            assert got == want, f"v{v}: {got} != {want}"


@pytest.mark.usefixtures("spark")
def test_store_operations_compose(spark):
    StoreMachine.spark = spark
    machine_test = StoreMachine.TestCase
    machine_test.settings = settings(
        max_examples=3,
        stateful_step_count=8,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    instance = machine_test()
    instance.runTest()
