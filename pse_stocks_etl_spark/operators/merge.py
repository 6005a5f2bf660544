"""Keyed upsert (MERGE) semantics as pure relational algebra.

Reference semantics (SURVEY.md §2.2 K2/K3, §2.4 J1/J2/J3, §2.3 P4/P5):
- K2 plain upsert: matched → update all cols, not matched → insert all
  (reference spark_deltalake_sync.py:296-300 Delta MERGE;
  deltalake_sync.py:239-248; bigquery_dml__upsert_company.sql:7-27).
- K3 freshness-guarded upsert: only replace a matched target row when
  `source.extracted_at >= target.extracted_at` or the target row is new
  (bigquery_dml__upsert_daily_stock_price.sql:15-16) — the property that
  makes replays idempotent (T4).
- J1 left-outer classify, J3 semi-join delete — the reference's staged
  delete+insert dance collapses into one relational expression here.

Delta MERGE is not available in this image, so the engine computes the
*post-merge relation* declaratively and the storage layer
(store/parquet_table.py) commits it atomically. Like Delta, which runs
a MERGE as one outer join of source and target, every view here is a
projection of ONE full-outer join on the merge keys (`_merge_join`),
which carries the K3 rule as a single `__wins` column:
- `merge_dataframes`: per key, the source row where it wins, else the
  target row — the post-merge relation;
- `merge_cdf`: the insert / update_preimage / update_postimage rows;
- `classify_merge`: the source rows tagged insert / update / skip.
On a Delta-enabled cluster the same plan maps 1:1 onto
`DeltaTable.merge(...).whenMatchedUpdateAll(condition).whenNotMatchedInsertAll()`.

Scale notes: the join shuffles each side once on the merge keys (a full
outer join is never broadcast); at 100 TB the win is file pruning — the
storage layer partitions the fact by date so a merge of a trailing
window only joins and rewrites recent partitions (mirrors BigQuery
`PARTITION BY date`, SURVEY.md §4).

Invariant (SURVEY.md §7.5 risk 4): the source must be key-unique —
Delta MERGE throws on duplicate source keys, and the reference always
pre-dedups (A2). These operators assume it and do not check it; the
store's `ParquetTable.merge` is the one place that enforces it, by
deduping with the caller's `dedup_order` or else refusing a batch that
repeats a key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _keys_may_be_null(df: DataFrame, keys: Sequence[str]) -> bool:
    nullable = {f.name: f.nullable for f in df.schema.fields}
    return any(nullable.get(k, True) for k in keys)


def _null_safe_key_cond(left: DataFrame, right: DataFrame, keys: Sequence[str], right_names: Sequence[str]):
    """AND of key equalities, null-safe (<=>) only when the schema says a
    key may actually be NULL: plain `=` never matches a NULL key (which
    would make merges of NULL-keyed rows insert a duplicate on every
    replay), but null-safe comparisons block Catalyst's constraint
    propagation — so proven-non-nullable keys keep the plain form."""
    use_null_safe = _keys_may_be_null(left, keys) or _keys_may_be_null(right, right_names)
    cond = None
    for k, rk in zip(keys, right_names):
        c = left[k].eqNullSafe(right[rk]) if use_null_safe else (left[k] == right[rk])
        cond = c if cond is None else cond & c
    return cond


def _merge_join(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    freshness_col: str | None,
) -> DataFrame:
    """The one plan behind every merge view: source ⟗ target on `keys`
    (null-safe). Source columns keep their names, target columns get a
    `__t_` prefix, `__in_s` / `__in_t` are TRUE on rows carrying that
    side, and `__wins` is the K3 rule: a source row wins iff its key is
    new or it passes the freshness guard, where a NULL target freshness
    (an absent target row included) always passes."""
    t = target.select(
        *[F.col(c).alias(f"__t_{c}") for c in target.columns],
        F.lit(True).alias("__in_t"),
    )
    s = source.select("*", F.lit(True).alias("__in_s"))
    cond = _null_safe_key_cond(s, t, keys, [f"__t_{k}" for k in keys])
    wins = F.col("__in_s").isNotNull()
    if freshness_col:
        t_fresh = F.col(f"__t_{freshness_col}")
        wins = wins & (t_fresh.isNull() | (F.col(freshness_col) >= t_fresh))
    return s.join(t, on=cond, how="full_outer").withColumn("__wins", wins)


def classify_merge(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    freshness_col: str | None = None,
) -> DataFrame:
    """J1+P5: tag each source row 'insert' / 'update' / 'skip': an
    insert when no target key matches, an update when it matches and
    wins (passes the freshness guard, or there is no guard), else a
    skip. This is the relational form of the reference's staged
    classify (bigquery_dml__upsert_daily_stock_price.sql:10-16).
    """
    action = (
        F.when(F.col("__in_t").isNull(), F.lit("insert"))
        .when(F.col("__wins"), F.lit("update"))
        .otherwise(F.lit("skip"))
    )
    return (
        _merge_join(target, source, keys, freshness_col)
        .filter(F.col("__in_s").isNotNull())
        .select(*source.columns, action.alias("merge_action"))
    )


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    freshness_col: str | None = None,
) -> DataFrame:
    """K2/K3: the post-merge relation — per key, the source row where it
    wins, else the target row. Column set follows the target's schema
    (whenMatchedUpdateAll / whenNotMatchedInsertAll semantics — all
    columns replaced).
    """
    return _merge_join(target, source, keys, freshness_col).select(
        *[
            F.when(F.col("__wins"), F.col(c)).otherwise(F.col(f"__t_{c}")).alias(c)
            for c in target.columns
        ]
    )


def merge_cdf(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    freshness_col: str | None = None,
) -> DataFrame:
    """Change-data-feed view of a merge (Delta CDF semantics: the rows
    `table_changes()` would emit for this MERGE commit): every insert
    row tagged `insert`, every updated key contributing BOTH its
    before-row (`update_preimage`, from the target) and its after-row
    (`update_postimage`, from the source). Skipped rows (freshness
    guard) emit nothing — they are not part of the commit.

    Columns = target columns + `_change_type` (Delta's reserved name).

    Each joined row is exploded into 0/1/2 CDF rows, so each side is
    read and shuffled exactly once (a union of per-change-type branches
    would re-run the join in every branch); `explode` (non-outer) drops
    the NULL branch rows (skips and untouched target rows), so no
    second pass filters them.
    """
    cols = list(target.columns)

    def _row(prefix: str, change: str):
        return F.struct(
            *[F.col(f"{prefix}{c}").alias(c) for c in cols],
            F.lit(change).alias("_change_type"),
        )

    branch = (
        F.when(
            F.col("__wins") & F.col("__in_t").isNull(),
            F.array(_row("", "insert")),
        )
        .when(
            F.col("__wins"),
            F.array(_row("__t_", "update_preimage"), _row("", "update_postimage")),
        )
        # else NULL: freshness skip, or target-only row — explode drops it
    )
    joined = _merge_join(target, source, keys, freshness_col)
    return joined.select(F.explode(branch).alias("__r")).select("__r.*")
