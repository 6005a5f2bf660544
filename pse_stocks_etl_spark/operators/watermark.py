"""Incremental-sync planning operators: watermarks + date windows.

Reference semantics (SURVEY.md §2.5 A1, §2.9 T1-T3, §2.4 J4, §2.8 F2/F3):
- A1 per-key high watermark: `SELECT symbol, max(date) GROUP BY symbol`
  (reference postgres_sync.py:106-115; spark_deltalake_sync.py:209-216).
  The reference materializes this to a driver-side python dict
  (spark_deltalake_sync.py:213 toPandas) — we keep it a DataFrame and
  broadcast-join it instead, so the plan stays distributed at 100 TB.
- J4 dict-lookup join == broadcast hash join of keys against watermarks,
  epoch default on miss (F3: postgres_sync.py:200 datetime(1970,1,1)).
- F2 date windows: start = watermark + (1 - lookback_days);
  end = Manila "today" - FRESHNESS_DAYS (postgres_sync.py:200-202).
- P7 up-to-date short-circuit: skip keys whose window is empty
  (postgres_sync.py:205-206) — an anti-join/filter, not a python `if`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.datetime import epoch_default


# The watermark column `watermarks` writes and `incremental_windows` reads.
WATERMARK_COL = "latest_date"
# T3: a window ends this many days before Manila "today", so a sync never
# fetches today's possibly partial day (postgres_sync.py:183-186).
FRESHNESS_DAYS = 1


def watermarks(df: DataFrame, key: str, ts_col: str) -> DataFrame:
    """A1: per-key max(ts) — partial-aggregating groupBy, one shuffle."""
    return df.groupBy(key).agg(F.max(ts_col).alias(WATERMARK_COL))


def manila_today() -> Column:
    """Business 'today' in UTC+8 Manila, computed as utcnow()+8h exactly
    like the reference (postgres_sync.py:202 `utcnow()+timedelta(hours=8)`)."""
    return F.to_date(F.current_timestamp() + F.expr("INTERVAL 8 HOURS"))


def incremental_windows(
    keys_df: DataFrame,
    wm_df: DataFrame,
    key: str,
    lookback_days: int = 0,
    today: str | None = None,
) -> DataFrame:
    """F2+F3+J4+T2+T3+P7 composed: the per-key fetch plan.

    Returns one row per key with `target_start`, `target_end`, and
    `up_to_date` (window empty → nothing to fetch). `keys_df` is the key
    universe (dimension); `wm_df` the A1 output. The watermark side is
    broadcast — it is one row per key, tiny relative to the fact table.
    `today` pins Manila "today" as an ISO date (default: the clock).
    """
    today_col = manila_today() if today is None else F.to_date(F.lit(today))
    wm = epoch_default(F.col(WATERMARK_COL))
    joined = keys_df.join(F.broadcast(wm_df), on=key, how="left")
    return joined.select(
        key,
        wm.alias("watermark"),
        F.date_add(wm, 1 - lookback_days).alias("target_start"),
        F.date_sub(today_col, FRESHNESS_DAYS).alias("target_end"),
    ).withColumn(
        "up_to_date",
        # lookback_days is a plan-time constant: branch in Python rather
        # than emitting a `lit(n) == 0` predicate into the plan (a
        # lookback forces a refetch regardless of the window).
        (F.col("target_start") > F.col("target_end"))
        if lookback_days == 0
        else F.lit(False),
    )


def pending_keys(windows_df: DataFrame) -> DataFrame:
    """P7 as a filter on the window plan: the keys that still need a fetch."""
    return windows_df.filter(~F.col("up_to_date"))
