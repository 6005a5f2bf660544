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

Every write is a function of one read snapshot: its base version number
and that version's `_schema.json`. Like Delta's log, the table owns the
schema and a handle caches none: the constructor's `schema` types only
the first commit, `.schema` reads the current snapshot, and a commit
writes its base's schema (an evolving merge adds its new columns to
it), so a handle opened before another writer evolved the table cannot
commit the evolution away.

Every commit runs its plan ONCE: CHECK constraints are fused into the
write job's projection (a violating row fails the write, whose staging
dir is then removed), never checked by a separate pass over the commit
plan.

Scale posture: `partition_by` lays the fact table out by date (mirrors
BigQuery `PARTITION BY date`, SURVEY.md §4) so incremental merges and
date-range scans prune files; merge itself is the one full-outer-join
plan from operators/merge.py, which shuffles only on the key — or, when
the batch touches no existing row (the daily sync), a plain append of
the key-unique batch with no join at all.
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
# 'v_tmp') must never be parsed as a version (round-2 review). Five
# digits is the padding, not a limit: v99999 is followed by v100000.
_VERSION_RE = re.compile(r"^v\d{5,}$")
# Uncommitted dirs: a writer's staging dir (named after its base), trash.
_STAGE_RE = re.compile(r"^\.stage-(\d+)-")
_TRASH = ".trash-"
# optimize's Z-order: each cluster column is bucketed into 2^4 quantile ranks.
_ZORDER_BITS = 4
# How often merge re-derives itself after losing a commit race.
_CONFLICT_RETRIES = 2


def _violation_message(name: str, predicate: str) -> str:
    return f"CHECK constraint '{name}' violated: {predicate}"


class ConcurrentWriteError(RuntimeError):
    """A concurrent writer committed between this transaction's read
    snapshot and its commit attempt (Delta's ConcurrentAppendException
    analog). The caller may re-derive its write from the new current
    version and retry — `merge` does so automatically, up to
    `_CONFLICT_RETRIES` times."""


def _vname(version: int) -> str:
    return f"v{version:05d}"


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
        # Types the first commit only: from then on the table, not the
        # handle, owns the schema (`.schema`, `_schema_at`).
        self._first_schema = schema
        self.partition_by = tuple(partition_by)
        # Delta CHECK-constraint analog: {name: SQL predicate}. Enforced
        # on every commit with SQL CHECK semantics — a row violates only
        # when the predicate is FALSE (NULL passes). Evaluated inside the
        # write job on the rows being written (the new version only,
        # never the hardlinked rest of the table).
        self.constraints = dict(constraints or {})
        os.makedirs(os.path.join(path, _VERSIONS), exist_ok=True)

    @property
    def schema(self) -> T.StructType:
        """The current version's schema snapshot."""
        return self._schema_at(self.current_version())

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, _VERSIONS, _vname(version))

    def _schema_at(self, version: int) -> T.StructType:
        """The schema snapshot committed inside `version` (the
        constructor's schema before the first commit)."""
        if not version:
            return self._first_schema
        with open(os.path.join(self._vdir(version), _SCHEMA)) as f:
            return T.StructType.fromJson(json.load(f))

    def _write_version_schema(self, target: str, schema: T.StructType) -> None:
        """Snapshot `schema` into the (not-yet-committed) version dir.
        Spark's parquet reader ignores underscore-prefixed files, so the
        snapshot can live beside the data it describes — and the
        publishing rename then commits schema + data atomically."""
        with open(os.path.join(target, _SCHEMA), "w") as f:
            json.dump(schema.jsonValue(), f)

    def _scan(self, version: int, schema: T.StructType | None = None) -> DataFrame:
        """Scan `version` with `schema` (default: its own snapshot)."""
        if schema is None:
            schema = self._schema_at(version)
        if not version:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(self._vdir(version))

    # -- commit protocol ---------------------------------------------------
    def _pointer(self) -> str | None:
        v = self.current_version()
        return _vname(v) if v else None

    def current_version(self) -> int:
        """The highest published version; 0 before the first commit."""
        return max(self.history(), default=0)

    def _guarded_projection(self, df: DataFrame) -> DataFrame:
        """Fuse every CHECK constraint into a projection of `df` (already
        projected onto the table schema): one non-partition column
        becomes `CASE WHEN <pred> IS FALSE THEN raise_error(...) ELSE
        col END`, so the write job itself fails on the first violating
        row — no separate validation pass over the commit plan. A
        projected column (not a Filter) so Catalyst can neither prune
        the guard nor push it below the merge's join onto rows that are
        never written."""
        if not self.constraints:
            return df
        names = df.columns
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
        schema: T.StructType | None = None,
    ) -> None:
        """Stage `df` as the next version and publish it; the commit
        refuses if the table moved past `expected_version` (the caller's
        read snapshot). `schema` is the new version's schema; by default
        the base version's. The plan runs once: CHECK constraints are
        fused into the write. `carry_untouched=pcol`: `df` covers only
        some `pcol` partitions; every other one of the base version is
        hardlinked in. A failed write removes its staging dir; a CHECK
        violation surfaces as ValueError."""
        base = self.current_version()
        if expected_version not in (None, base):
            raise ConcurrentWriteError(
                f"table advanced to v{base} after this transaction read "
                f"v{expected_version} — re-derive and retry"
            )
        if schema is None:
            schema = self._schema_at(base)
        stage = os.path.join(self.path, _VERSIONS, f".stage-{base:05d}-{uuid.uuid4().hex}")
        try:
            projected = self._guarded_projection(df.select(*schema.fieldNames()))
            writer = projected.write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(stage)
            self._write_version_schema(stage, schema)
            if carry_untouched and base:
                self._link_untouched(_vname(base), stage, carry_untouched)
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
        vname = _vname(version)
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
        # names (':', '%', '#', ...) and for NULL, which Spark writes as
        # __HIVE_DEFAULT_PARTITION__.
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
            self._commit(self.spark.createDataFrame([], self._first_schema))

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
            return self._scan(self.current_version())
        if not os.path.isdir(self._vdir(version)):
            raise ValueError(
                f"version {version} not retained; available: {self.history()}"
            )
        return self._scan(version)

    def history(self) -> list[int]:
        """Retained version numbers, oldest first (Delta `DESCRIBE
        HISTORY` analog — what `read(version=)` accepts). Only strict
        v\\d{5,} entries count: stray files / partial artifacts in
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
        self._commit(self.read(version=version), schema=self._schema_at(version))

    def merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        freshness_col: str | None = None,
        dedup_order: Sequence[Column | str] | None = None,
        evolve_schema: bool = False,
    ) -> None:
        """K2/K3: keyed upsert (optionally freshness-guarded) of a
        key-unique source (SURVEY.md §7.5 risk 4).

        The source must hold at most one row per key, NULL keys counting
        as equal, as Delta's MERGE requires. With `dedup_order` the batch
        is deduped to its first row per key under that order (the
        reference's A2 pre-merge dedup); without it, a batch that
        repeats a key raises ValueError before anything is staged, so
        nothing is committed.

        Optimistic concurrency: the commit refuses if another writer
        advanced the table past the merge's read snapshot
        (ConcurrentWriteError); a keyed merge is re-derivable, so up to
        `_CONFLICT_RETRIES` retries re-derive it, schema included, from
        the new snapshot — Delta's conflict-then-retry.

        `evolve_schema=True` is Delta's `mergeSchema`: source columns
        the table lacks are appended (nullable) to the snapshot's
        schema, which commits INSIDE the new version dir, atomically
        with its data; existing files need no rewrite — the parquet
        reader null-fills declared-but-absent columns.

        Partition pruning: on a table partitioned by a merge-key column
        (the date-partitioned fact), only partitions whose values,
        NULL included, appear in the batch are re-merged and rewritten;
        the rest are carried into the new version as hardlinks. This is
        the file-level rewrite Delta's MERGE does via its log, and why
        an incremental sync costs O(window), not O(table) (SCALE.md
        "Merge / upsert").

        Append-only: when the (pruned) target slice is empty — as a
        daily sync's new date partition is — every source key is an
        insert, so the commit is the key-unique batch itself, with no
        join. The rows equal merge_dataframes'.

        An empty batch commits nothing and evolves no schema. The
        commit runs its plan once, but `source` is read more than once
        (the guard and the write), so a nondeterministic source should
        be persisted by the caller, as the sync path does.
        """
        for attempt in range(_CONFLICT_RETRIES + 1):
            try:
                return self._merge_impl(
                    source, keys, freshness_col, dedup_order, evolve_schema
                )
            except ConcurrentWriteError:
                if attempt == _CONFLICT_RETRIES:
                    raise

    def _merge_impl(
        self,
        source: DataFrame,
        keys: Sequence[str],
        freshness_col: str | None,
        dedup_order: Sequence[Column | str] | None,
        evolve_schema: bool,
    ) -> None:
        """One merge attempt.

        One guard query over the batch, before anything is staged, takes
        the most rows any key has, per affected partition value (or over
        the whole batch when no key column prunes the table). It is the
        key-unique check, the list of partitions to re-merge, and the P6
        non-empty guard at the STORE boundary: an empty source must not
        burn a version (found by the stateful model test — an hourly
        sync poll with no new data was committing 24 identical version
        dirs a day until vacuum), nor evolve the schema."""
        # Read snapshot for the optimistic-concurrency check: every scan
        # below resolves THIS version, with its schema, and the commit
        # refuses if the table moved past it meanwhile.
        base = self.current_version()
        schema = self._schema_at(base)
        if evolve_schema:
            known = set(schema.fieldNames())
            added = [f for f in source.schema.fields if f.name not in known]
            schema = T.StructType(
                schema.fields + [T.StructField(f.name, f.dataType, True) for f in added]
            )
        target = self._scan(base, schema)
        pcol = (
            self.partition_by[0]
            if len(self.partition_by) == 1 and self.partition_by[0] in keys
            else None
        )
        # groupBy groups NULL keys, as _null_safe_key_cond matches them;
        # the dedup below leaves one row per key, so it needs no count.
        per_key = (
            source.withColumn("__rows", F.lit(1))
            if dedup_order is not None
            else source.groupBy(*keys).agg(F.count(F.lit(1)).alias("__rows"))
        )
        # One row per affected partition value (bounded by the batch's
        # window), or one global row, which is NULL on an empty batch.
        guard = [
            r
            for r in per_key.groupBy(*([pcol] if pcol else []))
            .agg(F.max("__rows").alias("__rows"))
            .collect()
            if r["__rows"] is not None
        ]
        if not guard:
            return
        if max(r["__rows"] for r in guard) > 1:
            raise ValueError(
                f"merge source repeats a key of {tuple(keys)}: "
                "pass dedup_order, or dedup the batch"
            )
        if pcol is not None:
            affected = [r[pcol] for r in guard]
            # Null-safe prune: isin() never matches NULL.
            prune = F.col(pcol).isin([v for v in affected if v is not None])
            if any(v is None for v in affected):
                prune = prune | F.col(pcol).isNull()
            target = target.filter(prune)
        if dedup_order is not None:
            source = topk_per_group(source, keys, dedup_order, k=1)
        if target.isEmpty():
            # Append-only: every source key is an insert, so this is
            # exactly what merge_dataframes computes, minus its join
            # against an empty slice. Partition pruning leaves the
            # isEmpty() above no files to scan.
            merged = source
        else:
            merged = merge_dataframes(target, source, keys, freshness_col)
        self._commit(merged, expected_version=base, carry_untouched=pcol, schema=schema)

    def optimize(
        self,
        cluster_by: Sequence[str],
        target_files: int | None = None,
    ) -> None:
        """K9 companion: rewrite the current version clustered by
        `cluster_by` (the OPTIMIZE ZORDER analog — mirrors the
        reference's BigQuery `CLUSTER BY symbol`,
        db/bigquery/daily_stock_price.sql:17).

        One cluster column → range-partition + sort (lexicographic is
        optimal for a single key). Multiple columns → Z-ORDER: each
        column is quantile-bucketed into 2^_ZORDER_BITS ranks (boundaries
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
        df = self._scan(base)
        if len(cluster_by) >= 2:
            z = self._zvalue(df, cluster_by)
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
    def _zvalue(df: DataFrame, cluster_by: Sequence[str]) -> Column:
        """Morton z-value over quantile-rank buckets of `cluster_by`.

        Numeric columns bucket directly; date columns via unix_date.
        NULLs land in bucket 0 (nulls-first, same as Spark's sort
        default). Quantile (not uniform) buckets keep file ranges
        balanced under skew."""
        bits = _ZORDER_BITS
        n_cols = len(cluster_by)
        n_bounds = (1 << bits) - 1
        probs = [(i + 1) / (1 << bits) for i in range(n_bounds)]
        ranks: list[Column] = []
        for c in cluster_by:
            dtype = dict(df.dtypes)[c]
            if dtype == "date":
                num = F.unix_date(F.col(c))
            elif dtype in ("timestamp", "timestamp_ntz"):
                num = F.unix_micros(F.col(c).cast("timestamp"))
            else:
                num = F.col(c)
            num = num.cast("double")
            bounds = df.select(num.alias(c)).approxQuantile(c, probs, 0.001)
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
            kept = self._scan(base).filter(~condition.eqNullSafe(F.lit(True)))
            self._commit(kept, expected_version=base)

    def vacuum(self, retain_versions: int = 2) -> list[str]:
        """K9: drop version dirs older than the newest `retain_versions`
        (never the current one, so 0 keeps only it), staging dirs whose
        base is no longer current (that writer can never publish) and
        leftover trash. A dir is renamed away before it is deleted, so a
        killed vacuum never leaves a half-deleted version. Returns
        removed versions."""
        if retain_versions < 0:
            raise ValueError(f"retain_versions must be >= 0, got {retain_versions}")
        vdir = os.path.join(self.path, _VERSIONS)
        entries = sorted(os.listdir(vdir))
        versions = sorted(
            (e for e in entries if _VERSION_RE.match(e)), key=lambda e: int(e[1:])
        )
        removed = versions[: -max(retain_versions, 1)]
        current = self.current_version()
        for e in entries:
            stage = _STAGE_RE.match(e)
            if e in removed or (stage and int(stage[1]) < current):
                self._discard(os.path.join(vdir, e))
            elif e.startswith(_TRASH):
                shutil.rmtree(os.path.join(vdir, e))
        return removed
