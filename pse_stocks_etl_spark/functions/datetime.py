"""Date/time column expressions (SURVEY.md §2.8 F1-F3, F6-F7).

Everything the reference does with pandas `to_datetime`/`strftime`
(pse_edge.py:113-114, 222-223, 245-246, 254-255) re-expressed as
built-in JVM-side column functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: F3: epoch default for missing watermarks (reference postgres_sync.py:200).
EPOCH_DATE = "1970-01-01"


def format_ts(col: Column) -> Column:
    """F1: canonical `%Y-%m-%d %H:%M:%S` rendering (pse_edge.py:114)."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def format_api_date(col: Column) -> Column:
    """F7: the PSE API's `%m-%d-%Y` request format (pse_edge.py:222-223)."""
    return F.date_format(col, "MM-dd-yyyy")


def epoch_default(date_col: Column) -> Column:
    """F3: `coalesce(date, DATE '1970-01-01')`."""
    return F.coalesce(date_col, F.to_date(F.lit(EPOCH_DATE)))


def epoch_micros(ts_col_name: str) -> Column:
    """Microseconds since epoch, valid for TIMESTAMP *and* TIMESTAMP_NTZ.

    `unix_micros` rejects NTZ inputs, and casting NTZ through TIMESTAMP
    would consult the session timezone; `timestampdiff` against an NTZ
    epoch base is pure wall-clock arithmetic — deterministic under any
    caller-provided session (the correctness driver builds its own)."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        f"CAST({ts_col_name} AS TIMESTAMP_NTZ))"
    )
