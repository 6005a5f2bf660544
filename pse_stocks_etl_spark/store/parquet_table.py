"""Versioned parquet table — the storage layer the reference's sink
operators run against (SURVEY.md §2.2).

Emulates the Delta operations the reference uses (delta-spark jars are
not in this image; on a Delta-enabled cluster this class maps 1:1 onto
DeltaTable):

  K1  overwrite        spark_deltalake_sync.py:163 mode('overwrite')
  K2  merge            spark_deltalake_sync.py:296-300 whenMatched/NotMatched
  K3  freshness merge  bigquery_dml__upsert_daily_stock_price.sql:15-16
  K7  delete           spark_deltalake_sync.py:144,220 delete('true')
  K9  vacuum           deltalake_sync.py:90,255
  K10 empty init       spark_deltalake_sync.py:125-128,194-198

Commit protocol: every write is staged in a unique
`_versions/.stage-<base>-<uuid>` dir (data + a `_schema.json` snapshot),
then published by one os.rename onto `_versions/v{base+1}` — the
put-if-absent of the Delta log, since a rename onto a published
(non-empty) version dir fails. The current version is the highest
`vNNNNN` dir. A writer killed at any point leaves at most a staging dir,
which blocks no commit and which `vacuum()` reaps. Because the schema
snapshot lives INSIDE the version dir, schema evolution commits
atomically with its data, and time travel replays the schema as of that
version — both Delta behaviors.

Every commit runs its plan ONCE: CHECK constraints are fused into the
write job's projection (a violating row fails the write, whose staging
dir is then removed), never checked by a separate pass over the commit
plan.

Scale posture: `partition_by` lays the fact table out by date (mirrors
BigQuery `PARTITION BY date`, SURVEY.md §4) so incremental merges and
date-range scans prune files; merge itself is the relational anti-join ∪
winners plan from operators/merge.py, which shuffles only on the key —
or, when the batch touches no existing partition (the daily sync), a
plain append of the deduped batch with no join at all.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import topk_per_group
from ..operators.merge import merge_dataframes

_VERSIONS = "_versions"
_SCHEMA = "_schema.json"
# Strict version-dir name: a stray file or partial artifact (e.g.
# 'v_tmp') must never be parsed as a version (round-2 review).
_VERSION_RE = re.compile(r"^v\d{5}$")
# Uncommitted dirs: a writer's staging dir (named after its base), trash.
_STAGE_RE = re.compile(r"^\.stage-(\d+)-")
_TRASH = ".trash-"


def _violation_message(name: str, predicate: str) -> str:
    return f"CHECK constraint '{name}' violated: {predicate}"


class ConcurrentWriteError(RuntimeError):
    """A concurrent writer committed between this transaction's read
    snapshot and its commit attempt (Delta's ConcurrentAppendException
    analog). The caller may re-derive its write from the new current
    version and retry — `merge(conflict_retries=...)` does so
    automatically."""


class ParquetTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_by: Sequence[str] = (),
        constraints: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.schema = schema
        self.partition_by = tuple(partition_by)
        # Delta CHECK-constraint analog: {name: SQL predicate}. Enforced
        # on every commit with SQL CHECK semantics — a row violates only
        # when the predicate is FALSE (NULL passes). Evaluated inside the
        # write job on the rows being written (the new version only,
        # never the hardlinked rest of the table).
        self.constraints = dict(constraints or {})
        os.makedirs(os.path.join(path, _VERSIONS), exist_ok=True)
        # The current version's schema snapshot supersedes the
        # constructor's: like Delta's log, the table — not the caller —
        # owns the current schema once it has evolved.
        cur = self._pointer()
        snap = self._version_schema(cur) if cur else None
        if snap is not None:
            self.schema = snap

    def _version_schema(self, vname: str) -> T.StructType | None:
        """Schema snapshot stored inside a version dir, if any."""
        sp = os.path.join(self.path, _VERSIONS, vname, _SCHEMA)
        if not os.path.exists(sp):
            return None
        with open(sp) as f:
            return T.StructType.fromJson(json.load(f))

    def _write_version_schema(self, target: str) -> None:
        """Snapshot self.schema into the (not-yet-committed) version dir.
        Spark's parquet reader ignores underscore-prefixed files, so the
        snapshot can live beside the data it describes — and the
        publishing rename then commits schema + data atomically."""
        with open(os.path.join(target, _SCHEMA), "w") as f:
            json.dump(self.schema.jsonValue(), f)

    # -- commit protocol ---------------------------------------------------
    def _pointer(self) -> str | None:
        v = self.current_version()
        return f"v{v:05d}" if v else None

    def current_version(self) -> int:
        """The highest published version; 0 before the first commit."""
        return max(self.history(), default=0)

    def _guarded_projection(self, df: DataFrame) -> DataFrame:
        """Project `df` onto the table schema with every CHECK constraint
        fused in: one non-partition column becomes
        `CASE WHEN <pred> IS FALSE THEN raise_error(...) ELSE col END`,
        so the write job itself fails on the first violating row — no
        separate validation pass over the commit plan. A projected
        column (not a Filter) so Catalyst can neither prune the guard
        nor push it below the merge's anti-join onto rows that are
        never written."""
        names = [f.name for f in self.schema.fields]
        if not self.constraints:
            return df.select(*names)
        guard = next((c for c in names if c not in self.partition_by), names[0])
        checked = None
        for name, predicate in self.constraints.items():
            violated = F.expr(predicate).eqNullSafe(F.lit(False))
            fail = F.raise_error(F.lit(_violation_message(name, predicate)))
            checked = (
                F.when(violated, fail)
                if checked is None
                else checked.when(violated, fail)
            )
        guarded = checked.otherwise(F.col(guard)).alias(guard)
        return df.select(*[guarded if c == guard else F.col(c) for c in names])

    def _commit(
        self,
        df: DataFrame,
        expected_version: int | None = None,
        carry_untouched: str | None = None,
    ) -> None:
        """Stage `df` as the next version and publish it; the commit
        refuses if the table moved past `expected_version` (the caller's
        read snapshot). The plan runs once: CHECK constraints are fused
        into the write. `carry_untouched=pcol`: `df` covers only some
        `pcol` partitions; every other one of the base version is
        hardlinked in. A failed write removes its staging dir; a CHECK
        violation surfaces as ValueError."""
        base = self.current_version()
        if expected_version not in (None, base):
            raise ConcurrentWriteError(
                f"table advanced to v{base} after this transaction read "
                f"v{expected_version} — re-derive and retry"
            )
        stage = os.path.join(self.path, _VERSIONS, f".stage-{base:05d}-{uuid.uuid4().hex}")
        try:
            writer = self._guarded_projection(df).write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(stage)
            self._write_version_schema(stage)
            if carry_untouched and base:
                self._link_untouched(f"v{base:05d}", stage, carry_untouched)
            self._publish(stage, base + 1)
        except Exception as e:
            shutil.rmtree(stage, ignore_errors=True)
            for name, predicate in self.constraints.items():
                msg = _violation_message(name, predicate)
                if msg in str(e):
                    raise ValueError(msg) from None
            raise

    def _publish(self, stage: str, version: int) -> None:
        """The commit point: rename the finished staging dir onto
        `v{version}`. A rename onto a non-empty dir fails, so two racing
        writers can never both win a version number."""
        vname = f"v{version:05d}"
        target = os.path.join(self.path, _VERSIONS, vname)
        try:
            os.rename(stage, target)
        except OSError as e:
            if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                raise
            raise ConcurrentWriteError(f"another writer committed {vname}") from None
        if self.current_version() > version:
            # Only a stale writer whose target number was vacuumed lands
            # below a newer version: withdraw, so the current version
            # never moves backwards.
            self._discard(target)
            raise ConcurrentWriteError(f"{vname} is older than the current version")

    def _discard(self, path: str) -> None:
        """Rename out of the version namespace, then delete."""
        trash = os.path.join(os.path.dirname(path), f"{_TRASH}{uuid.uuid4().hex}")
        os.rename(path, trash)
        shutil.rmtree(trash)

    def _link_untouched(self, current: str, target: str, pcol: str) -> None:
        """Hardlink every `pcol=` dir of version `current` that the new
        version `target` did not rewrite — zero data movement."""
        src_root = os.path.join(self.path, _VERSIONS, current)
        # The rewritten (affected) partitions are exactly the pcol= dirs
        # Spark just wrote into `target` — merge carries every affected
        # target row, so an affected partition never comes out empty.
        # Deriving the exclusion set from the target listing (not from
        # str(v)) keeps it correct for values Spark Hive-escapes in dir
        # names (':', '%', '#', ...).
        written_dirs = {e for e in os.listdir(target) if e.startswith(f"{pcol}=")}
        for entry in os.listdir(src_root):
            if not entry.startswith(f"{pcol}=") or entry in written_dirs:
                continue
            src_dir = os.path.join(src_root, entry)
            dst_dir = os.path.join(target, entry)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in os.listdir(src_dir):
                dst = os.path.join(dst_dir, fn)
                if not os.path.exists(dst):
                    os.link(os.path.join(src_dir, fn), dst)

    # -- operators ---------------------------------------------------------
    def exists(self) -> bool:
        return bool(self.history())

    def init_empty(self) -> None:
        """K10: create the table as an empty typed relation."""
        if not self.exists():
            self._commit(self.spark.createDataFrame([], self.schema))

    def read(self, version: int | None = None) -> DataFrame:
        """S5: scan the current version (schema-enforced). `version=`
        time-travels to any retained version (Delta's `versionAsOf`):
        every commit is a full immutable version dir (unchanged
        partitions hardlinked, not copied), so historical reads are
        plain scans until `vacuum` reclaims them. Each version is read
        with ITS OWN schema snapshot (Delta replays the schema as of
        that version) — an old version does not grow null-filled
        columns added by later evolution."""
        if version is None:
            v = self._pointer()
            if v is None:
                return self.spark.createDataFrame([], self.schema)
            # Current reads use the LIVE table schema (self.schema), not
            # the stored snapshot: during an evolving merge the target
            # must already present the new null-filled columns so the
            # upsert union lines up. The constructor seeds self.schema
            # from the current snapshot, so fresh handles agree.
            schema = self.schema
        else:
            v = f"v{version:05d}"
            if not os.path.isdir(os.path.join(self.path, _VERSIONS, v)):
                raise ValueError(
                    f"version {version} not retained; available: {self.history()}"
                )
            schema = self._version_schema(v) or self.schema
        return self.spark.read.schema(schema).parquet(
            os.path.join(self.path, _VERSIONS, v)
        )

    def history(self) -> list[int]:
        """Retained version numbers, oldest first (Delta `DESCRIBE
        HISTORY` analog — what `read(version=)` accepts). Only strict
        v\\d{5} entries count: stray files / partial artifacts in
        _versions never break history() or the read(version=) error
        path."""
        vdir = os.path.join(self.path, _VERSIONS)
        if not os.path.isdir(vdir):
            return []
        return sorted(int(v[1:]) for v in os.listdir(vdir) if _VERSION_RE.match(v))

    def overwrite(self, df: DataFrame, expected_version: int | None = None) -> None:
        """K1: full replace. Pass `expected_version` (the version this
        write was derived from) to refuse committing over a concurrent
        writer's work — blind replace stays the default because an
        overwrite does not depend on table state."""
        self._commit(df, expected_version=expected_version)

    def restore(self, version: int) -> None:
        """Delta `RESTORE TABLE ... TO VERSION AS OF` analog: re-commit
        a retained version's data AND schema snapshot as a NEW version.
        History is preserved — the restore is itself a commit, so a
        mistaken restore can be restored away; nothing is deleted
        (vacuum stays the only destructive operation)."""
        df = self.read(version=version)
        snap = self._version_schema(f"v{version:05d}")
        if snap is not None:
            self.schema = snap
        self._commit(df)

    def merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        freshness_col: str | None = None,
        dedup_order: Sequence[Column | str] | None = None,
        set_on_write: dict[str, Column] | None = None,
        evolve_schema: bool = False,
        conflict_retries: int = 2,
    ) -> None:
        """K2/K3: keyed upsert (optionally freshness-guarded) with the
        mandatory pre-merge source dedup (SURVEY.md §7.5 risk 4).

        Optimistic concurrency: the commit refuses if another writer
        advanced the table past the merge's read snapshot
        (ConcurrentWriteError); a keyed merge is re-derivable, so up to
        `conflict_retries` retries re-read and re-merge — Delta's
        conflict-then-retry for non-overlapping writers.

        `evolve_schema=True` is Delta's `mergeSchema`: source columns
        the table lacks are appended (nullable) to the table schema,
        snapshotted INSIDE the new version dir so the evolution commits
        atomically with its data (a failed commit evolves nothing);
        existing files need no rewrite — the parquet reader null-fills
        declared-but-absent columns, including hardlinked partition
        dirs carried by the pruned fast path.

        Partition-pruned fast path: when the table is partitioned on a
        merge-key column (the date-partitioned fact), only partitions
        whose values appear in the source batch are re-merged and
        rewritten; untouched partition directories are carried into the
        new version as hardlinks — zero data movement. This is the
        file-level rewrite Delta's MERGE does via its log, and the
        reason an incremental sync of a trailing window costs
        O(window), not O(table) (SCALE.md "Merge / upsert").

        Append-only fast path: when the pruned target slice is empty —
        the batch lands only in partitions the table does not have yet,
        as a daily sync's does — every source key is an insert, so the
        commit is the deduped batch with `set_on_write` applied: no
        classify join, no anti-join. The rows equal merge_dataframes'.

        The empty-batch guard costs no job of its own on the pruned path
        (the affected-partition collect shows an empty batch); an empty
        batch commits nothing and evolves no schema. The commit runs its
        plan once, but the pruned path reads `source` twice (that
        collect and the write), so a nondeterministic source should be
        persisted by the caller, as the sync path does.
        """
        old_schema = self.schema
        if evolve_schema:
            existing = {f.name for f in self.schema.fields}
            added = [
                T.StructField(f.name, f.dataType, True)
                for f in source.schema.fields
                if f.name not in existing
            ]
            if added:
                # In-memory only: the commit below snapshots it into the
                # version dir; a failed or skipped commit rolls it back.
                self.schema = T.StructType(list(self.schema.fields) + added)
        committed = False
        try:
            for attempt in range(conflict_retries + 1):
                try:
                    committed = self._merge_impl(
                        source, keys, freshness_col, dedup_order, set_on_write
                    )
                    break
                except ConcurrentWriteError:
                    if attempt == conflict_retries:
                        raise
        finally:
            if not committed:
                self.schema = old_schema

    def _merge_impl(
        self,
        source: DataFrame,
        keys: Sequence[str],
        freshness_col: str | None,
        dedup_order: Sequence[Column | str] | None,
        set_on_write: dict[str, Column] | None,
    ) -> bool:
        """One merge attempt; returns whether a version was committed.

        P6 non-empty guard, at the STORE boundary: an empty source must
        not burn a version (found by the stateful model test — an hourly
        sync poll with no new data was committing 24 identical version
        dirs a day until vacuum), nor evolve the schema."""
        # Read snapshot for the optimistic-concurrency check: every
        # self.read() below resolves THIS version, and the commit
        # refuses if the table moved past it meanwhile.
        base = self.current_version()
        pcol = (
            self.partition_by[0]
            if len(self.partition_by) == 1 and self.partition_by[0] in keys
            else None
        )

        def full_merge() -> DataFrame:
            return merge_dataframes(
                self.read(), source, keys, freshness_col, dedup_order, set_on_write
            )

        if pcol is None or not base:
            if source.isEmpty():
                return False
            self._commit(full_merge(), expected_version=base)
            return True
        # Affected partition values: one row per distinct source value —
        # bounded by the batch's window, safe to collect. An empty list
        # is the empty-batch guard: no separate emptiness job.
        affected = [r[0] for r in source.select(pcol).distinct().collect()]
        if not affected:
            return False
        if any(v is None for v in affected):
            # NULL partition values break both the isin() pruning filter
            # (NULL never matches) and the hardlink exclusion (Spark
            # writes __HIVE_DEFAULT_PARTITION__, not 'None') — take the
            # always-correct full-merge path for such batches.
            self._commit(full_merge(), expected_version=base)
            return True
        tgt_affected = self.read().filter(F.col(pcol).isin(affected))
        if tgt_affected.isEmpty():
            # Append-only: every source key is an insert, so this is
            # exactly what merge_dataframes computes, minus its classify
            # join and anti-join against an empty slice. Partition
            # pruning leaves the isEmpty() above no files to scan.
            merged = source
            if dedup_order is not None:
                merged = topk_per_group(merged, keys, dedup_order, k=1)
            if set_on_write:
                merged = merged.withColumns(dict(set_on_write))
        else:
            merged = merge_dataframes(
                tgt_affected, source, keys, freshness_col, dedup_order, set_on_write
            )
        self._commit(merged, expected_version=base, carry_untouched=pcol)
        return True

    def optimize(
        self,
        cluster_by: Sequence[str],
        zorder_bits: int = 4,
        target_files: int | None = None,
    ) -> None:
        """K9 companion: rewrite the current version clustered by
        `cluster_by` (the OPTIMIZE ZORDER analog — mirrors the
        reference's BigQuery `CLUSTER BY symbol`,
        db/bigquery/daily_stock_price.sql:17).

        One cluster column → range-partition + sort (lexicographic is
        optimal for a single key). Multiple columns → Z-ORDER: each
        column is quantile-bucketed into 2^zorder_bits ranks (boundaries
        from approxQuantile — a bounded driver-side list, never data),
        the rank bits are Morton-interleaved into one z-value, and files
        are range-partitioned + sorted by it. Lexicographic multi-column
        sort clusters only the leading key; bit interleaving gives every
        cluster column min/max-skippable file ranges, which is the whole
        point at 100 TB — a predicate on the SECOND key alone still
        prunes files (proof: tests/test_plans_physical.py). Commits only
        over the version it read (else ConcurrentWriteError).
        """
        base = self.current_version()
        df = self.read()
        if len(cluster_by) >= 2:
            z = self._zvalue(df, cluster_by, zorder_bits)
            df = df.withColumn("__z", z)
            if self.partition_by:
                df = df.sortWithinPartitions("__z")
            elif target_files:
                df = df.repartitionByRange(target_files, "__z").sortWithinPartitions(
                    "__z"
                )
            else:
                df = df.repartitionByRange("__z").sortWithinPartitions("__z")
            # __z is dropped by _commit's schema projection; row order
            # survives the projection.
        elif self.partition_by:
            df = df.sortWithinPartitions(*cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
        self._commit(df, expected_version=base)

    @staticmethod
    def _zvalue(df: DataFrame, cluster_by: Sequence[str], bits: int) -> Column:
        """Morton z-value over quantile-rank buckets of `cluster_by`.

        Numeric columns bucket directly; date columns via unix_date.
        NULLs land in bucket 0 (nulls-first, same as Spark's sort
        default). Quantile (not uniform) buckets keep file ranges
        balanced under skew."""
        n_cols = len(cluster_by)
        n_bounds = (1 << bits) - 1
        probs = [(i + 1) / (1 << bits) for i in range(n_bounds)]
        ranks: list[Column] = []
        for c in cluster_by:
            dtype = dict(df.dtypes)[c]
            if dtype == "date":
                num = F.unix_date(F.col(c)).cast("double")
                num_df = df.select(F.unix_date(F.col(c)).cast("double").alias(c))
            elif dtype in ("timestamp", "timestamp_ntz"):
                num = F.unix_micros(F.col(c).cast("timestamp")).cast("double")
                num_df = df.select(
                    F.unix_micros(F.col(c).cast("timestamp")).cast("double").alias(c)
                )
            else:
                num = F.col(c).cast("double")
                num_df = df.select(F.col(c).cast("double").alias(c))
            bounds = num_df.approxQuantile(c, probs, 0.001)
            rank = F.lit(0)
            for b in bounds:
                rank = rank + F.when(num > F.lit(b), 1).otherwise(0)
            ranks.append(rank)
        z: Column = F.lit(0)
        for j in range(bits):
            for k, rank in enumerate(ranks):
                z = z + F.shiftright(rank, j).bitwiseAND(F.lit(1)) * F.lit(
                    1 << (j * n_cols + k)
                )
        return z

    def delete(self, condition: Column | None = None) -> None:
        """K7: delete rows matching `condition` (all rows when None).

        SQL/Delta DELETE semantics: only rows where the predicate is
        TRUE are removed — rows where it evaluates NULL are kept, so
        the keep-filter must be null-safe (`~condition` alone would
        silently drop NULL-predicate rows). A conditional delete commits
        only over the version it read (else ConcurrentWriteError).
        """
        if condition is None:
            self._commit(self.spark.createDataFrame([], self.schema))
        else:
            base = self.current_version()
            kept = self.read().filter(~condition.eqNullSafe(F.lit(True)))
            self._commit(kept, expected_version=base)

    def vacuum(self, retain_versions: int = 2) -> list[str]:
        """K9: drop version dirs older than the newest `retain_versions`
        (never the current one), staging dirs whose base is no longer
        current (that writer can never publish) and leftover trash. A
        dir is renamed away before it is deleted, so a killed vacuum
        never leaves a half-deleted version. Returns removed versions."""
        vdir = os.path.join(self.path, _VERSIONS)
        entries = sorted(os.listdir(vdir))
        versions = [e for e in entries if _VERSION_RE.match(e)]
        removed = [v for v in versions[:-1] if v not in versions[-retain_versions:]]
        current = self.current_version()
        for e in entries:
            stage = _STAGE_RE.match(e)
            if e in removed or (stage and int(stage[1]) < current):
                self._discard(os.path.join(vdir, e))
            elif e.startswith(_TRASH):
                shutil.rmtree(os.path.join(vdir, e))
        return removed

    def drop(self) -> None:
        """K8: remove the table entirely."""
        shutil.rmtree(self.path, ignore_errors=True)
