"""Model-based stateful test of ParquetTable: random interleavings of
overwrite / merge / freshness-merge / schema-evolving merge / delete /
restore, each through one of two handles opened on the same table, are
mirrored into a pure-python model (current columns and rows + full
version history), and after EVERY step the table must agree with the
model — the current read through both handles, and time-travel to every
retained version. Every example begins with a freshness-guarded stale
replay of one row, and every merge rule rewrites one existing key, so a
merge that appends instead of upserting, or a guard that ignores
freshness, fails every run, and so does a merge that accepts a batch
which repeats a key (every example tries one; merge rules draw more).
Single-op properties live in test_properties.py; this machine checks
that the OPERATIONS COMPOSE (restore-after-merge, merge-after-delete,
...), which is where versioned stores actually break."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from hypothesis import HealthCheck, Phase, settings
from hypothesis import strategies as st
from hypothesis.stateful import RuleBasedStateMachine, initialize, invariant, rule

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pse_stocks_etl_spark.store.parquet_table import ParquetTable



SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("val", T.LongType()),
        T.StructField("fresh", T.LongType()),
    ]
)
# The column evolve_merge adds (nullable, like Delta's mergeSchema).
NOTE = T.StructField("note", T.LongType(), True)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # k: small domain -> collisions
        st.integers(min_value=0, max_value=99),  # val
        st.integers(min_value=0, max_value=9),   # fresh
    ),
    min_size=0,
    max_size=4,
    unique_by=lambda r: r[0],  # unique keys per batch; merge adds its own repeats
)
noted_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=99),
        st.integers(min_value=0, max_value=9),
        st.none() | st.integers(min_value=0, max_value=9),  # note
    ),
    min_size=0,
    max_size=4,
    unique_by=lambda r: r[0],
)
handle_strategy = st.integers(min_value=0, max_value=1)
# Whether a merge batch repeats one of its keys, which the store refuses.
repeat_strategy = st.booleans()
# Picks the existing key a merge rewrites (modulo the model's size).
pick_strategy = st.integers(min_value=0, max_value=10_000)


def _sorted_rows(frames):
    """{tag: sorted rows} of each {tag: frame}, read in ONE Spark job (a
    tagged union by name); each frame's rows keep its own columns."""
    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df.withColumn("__tag", F.lit(tag)) for tag, df in frames.items()],
    )
    columns = {tag: df.columns for tag, df in frames.items()}
    out = {tag: [] for tag in columns}
    for r in union.collect():
        out[r["__tag"]].append(tuple(r[c] for c in columns[r["__tag"]]))
    return {tag: sorted(rows) for tag, rows in out.items()}


class _Crash(BaseException):
    """A writer dying mid-commit: not an Exception, so no cleanup runs."""


class StoreMachine(RuleBasedStateMachine):
    spark = None  # class attr, set by the test wrapper

    @initialize(rows=rows_strategy.filter(bool), pick=pick_strategy)
    def init_table(self, rows, pick):
        import tempfile

        self.root = tempfile.mkdtemp(prefix="store_sm_") + "/t"
        # Two handles on one table, both opened before any write: every
        # write rule picks one, so a handle writes after the other one
        # evolved the schema.
        self.handles = [ParquetTable(self.spark, self.root, SCHEMA) for _ in range(2)]
        self.table = self.handles[0]
        self.columns = SCHEMA.fieldNames()
        self.table.overwrite(self._df(rows))
        self.model = {r[0]: r for r in rows}
        # versions[i] == (columns, rows) of table version i+1
        self.versions = [(self.columns, dict(self.model))]
        # Every example starts with a stale replay of one row: a merge
        # that appends instead of upserting, or a guard that ignores
        # freshness, fails this step whatever rules follow (the rules
        # themselves are enabled at random per example). Then the same
        # replay with its key repeated, which the store must refuse.
        self.merge_fresh(0, [], pick, repeat=False)
        self.merge_fresh(0, [], pick, repeat=True)

    def _commit_model(self):
        self.versions.append((self.columns, dict(self.model)))

    def _df(self, rows):
        """`rows` as a frame of the model's current columns: a writer
        writes the table's schema, so a missing note is NULL."""
        evolved = "note" in self.columns
        schema = T.StructType(SCHEMA.fields + [NOTE]) if evolved else SCHEMA
        return self.spark.createDataFrame([self._row(r) for r in rows], schema)

    def _row(self, r):
        return r + (None,) if "note" in self.columns else r

    def _hit(self, rows, pick, fresh_shift=0, tail=()):
        """`rows` plus a rewrite of the existing key `pick` chooses: a
        batch of new keys alone cannot tell an upsert from an append.
        `fresh_shift=-1` makes the rewrite a stale replay."""
        if not self.model:
            return rows
        k = sorted(self.model)[pick % len(self.model)]
        _, val, fresh = self.model[k][:3]
        return [r for r in rows if r[0] != k] + [(k, val + 1, fresh + fresh_shift) + tail]

    @rule(h=handle_strategy, rows=rows_strategy)
    def overwrite(self, h, rows):
        self.handles[h].overwrite(self._df(rows))
        self.model = {r[0]: self._row(r) for r in rows}
        self._commit_model()

    def _merged(self, h, rows, repeat, **kw):
        """Merge `rows` through handle `h` and say whether it committed
        rows. With `repeat`, the batch also carries a second row for its
        first key: the store must refuse it and leave the table, and so
        the model, unchanged."""
        if repeat and rows:
            k, val, fresh = rows[0]
            with pytest.raises(ValueError, match="repeats a key"):
                self.handles[h].merge(self._df(rows + [(k, val + 1, fresh)]), keys=["k"], **kw)
            return False
        self.handles[h].merge(self._df(rows), keys=["k"], **kw)
        return bool(rows)  # empty-source merge is a no-op commit-wise

    @rule(h=handle_strategy, rows=rows_strategy, pick=pick_strategy, repeat=repeat_strategy)
    def merge(self, h, rows, pick, repeat):
        rows = self._hit(rows, pick)
        if self._merged(h, rows, repeat):
            for r in rows:
                self.model[r[0]] = self._row(r)
            self._commit_model()

    @rule(h=handle_strategy, rows=rows_strategy, pick=pick_strategy, repeat=repeat_strategy)
    def merge_fresh(self, h, rows, pick, repeat):
        rows = self._hit(rows, pick, fresh_shift=-1)
        if self._merged(h, rows, repeat, freshness_col="fresh"):
            for r in rows:
                if r[0] not in self.model or r[2] >= self.model[r[0]][2]:
                    self.model[r[0]] = self._row(r)
            self._commit_model()

    @rule(h=handle_strategy, rows=noted_rows_strategy, pick=pick_strategy)
    def evolve_merge(self, h, rows, pick):
        rows = self._hit(rows, pick, tail=(0,))
        df = self.spark.createDataFrame(rows, T.StructType(SCHEMA.fields + [NOTE]))
        self.handles[h].merge(df, keys=["k"], evolve_schema=True)
        if rows:  # an empty batch evolves nothing
            if "note" not in self.columns:
                self.columns = self.columns + ["note"]
                self.model = {k: r + (None,) for k, r in self.model.items()}
            for r in rows:
                self.model[r[0]] = r
            self._commit_model()

    @rule(h=handle_strategy)
    def delete_all(self, h):
        self.handles[h].delete()
        self.model = {}
        self._commit_model()

    @rule(
        h=handle_strategy,
        rows=rows_strategy.filter(bool),
        op=st.sampled_from(["overwrite", "merge"]),
        step=st.sampled_from(["before_schema", "after_schema", "before_publish"]),
    )
    def crash_commit(self, h, rows, op, step):
        # The writer dies after its data write, after the schema
        # snapshot, or just before the publishing rename: the table,
        # and so the model, must be unchanged.
        table = self.handles[h]
        method = "_publish" if step == "before_publish" else "_write_version_schema"
        real = getattr(table, method)

        def crash(*args):
            if step == "after_schema":
                real(*args)
            raise _Crash(step)

        setattr(table, method, crash)
        try:
            with pytest.raises(_Crash):
                df = self._df(rows)
                if op == "overwrite":
                    table.overwrite(df)
                else:
                    table.merge(df, keys=["k"])
        finally:
            delattr(table, method)

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

    @rule(h=handle_strategy, pick=pick_strategy)
    def restore(self, h, pick):
        hist = self.table.history()
        version = hist[pick % len(hist)]
        self.handles[h].restore(version)
        columns, rows = self.versions[version - 1]
        self.columns, self.model = columns, dict(rows)
        self._commit_model()

    @invariant()
    def table_matches_model(self):
        """The current read through both handles, and time travel to
        every retained version, equal the model."""
        if not hasattr(self, "table"):
            return
        frames, want = {}, {}
        for h, table in enumerate(self.handles):
            frames[f"handle {h}"] = table.read()
            want[f"handle {h}"] = (self.columns, self.model)
        for v in self.table.history():
            frames[f"v{v}"] = self.table.read(version=v)
            want[f"v{v}"] = self.versions[v - 1]
        for tag, df in frames.items():
            assert df.columns == want[tag][0], f"{tag}: {df.columns} != {want[tag][0]}"
        for tag, got in _sorted_rows(frames).items():
            rows = sorted(want[tag][1].values())
            assert got == rows, f"{tag}: {got} != {rows}"


@pytest.mark.usefixtures("spark")
def test_store_operations_compose(spark):
    StoreMachine.spark = spark
    machine_test = StoreMachine.TestCase
    machine_test.settings = settings(
        max_examples=3,
        stateful_step_count=8,
        deadline=None,
        # No shrink phase: every shrink candidate re-runs its Spark steps,
        # so a failing run would cost minutes; it is reported unshrunk.
        phases=(Phase.explicit, Phase.reuse, Phase.generate),
        suppress_health_check=list(HealthCheck),
    )
    instance = machine_test()
    instance.runTest()
