"""PSE Edge as a Spark Python Data Source (PySpark 4 DataSource API).

The reference fans out per-symbol HTTP fetches with a thread pool
(reference src/utils/pse_edge.py get_stock_data + src/db/sync.py
ThreadPoolExecutor); the engine's first-class replacement is
`distributed_fetch` (mapInPandas over a symbol/window plan). This
module is the *catalog-integrated* form of the same idea: a custom
`DataSource` whose reader declares one InputPartition per symbol, so
`spark.read.format("pse_edge_fake")` plans a parallel scan the same
way any built-in source does — partition pruning by symbol list,
Arrow-batched rows, executor-side fetching, zero driver loops.

Only the deterministic offline fake is wired in (the image has no
network); the real client would drop into `_fetch` unchanged.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schemas import DAILY_STOCK_PRICE_SCHEMA
from .pse_edge import FakePseEdge


def _scan_options(options: dict) -> tuple[list[str], str, str]:
    """The `symbols` / `start` / `end` options both readers take."""
    listed = ",".join(FakePseEdge.SYMBOLS)
    symbols = [s for s in options.get("symbols", listed).split(",") if s]
    return symbols, options.get("start", "2024-01-01"), options.get("end", "2024-01-31")


class _SymbolPartition(InputPartition):
    def __init__(self, symbol: str, start: str, end: str):
        self.symbol = symbol
        self.start = start
        self.end = end


def _read_partition(partition: _SymbolPartition):
    """Rows of one symbol's [start, end] window, shared by the batch and
    the stream reader. Runs on executors."""
    fake = FakePseEdge([partition.symbol])
    pdf = fake.get_stock_data(
        partition.symbol,
        date.fromisoformat(partition.start),
        date.fromisoformat(partition.end),
    )
    for row in pdf.itertuples(index=False):
        yield (
            row.symbol,
            row.date,
            row.open,
            row.high,
            row.low,
            row.close,
            row.extracted_at.to_pydatetime(),
        )


def _offset_date(offset: dict) -> date:
    """Stream offsets are plain dicts ({"cursor": iso_date}), JSON-round-
    trippable as the API requires."""
    return date.fromisoformat(offset["cursor"])


class PseEdgeDataSource(DataSource):
    """`spark.read.format("pse_edge_fake").option("symbols", "JFC,SM")
    .option("start", "2024-01-01").option("end", "2024-01-31").load()`;
    the same format name serves `spark.readStream`."""

    @classmethod
    def name(cls) -> str:
        return "pse_edge_fake"

    def schema(self) -> StructType:
        return DAILY_STOCK_PRICE_SCHEMA

    def reader(self, schema) -> "PseEdgeReader":
        return PseEdgeReader(self.options)

    def streamReader(self, schema) -> "PseEdgeStreamReader":
        return PseEdgeStreamReader(self.options)


class PseEdgeReader(DataSourceReader):
    def __init__(self, options: dict):
        self.symbols, self.start, self.end = _scan_options(options)

    def partitions(self) -> list[_SymbolPartition]:
        # One partition per symbol: the scan parallelizes across
        # executors exactly like the reference's thread fan-out (T5),
        # but scheduled by Spark with locality/retry semantics.
        return [_SymbolPartition(s, self.start, self.end) for s in self.symbols]

    def read(self, partition: _SymbolPartition):
        return _read_partition(partition)


def register(spark) -> None:
    """Idempotent registration of the format name."""
    spark.dataSource.register(PseEdgeDataSource)


# --------------------------------------------------------------------------
# Streaming side of the same source (PySpark 4 DataSourceStreamReader)
# --------------------------------------------------------------------------
class PseEdgeStreamReader(DataSourceStreamReader):
    """DataSourceStreamReader: replays the exchange window as date-
    range micro-batches. The offset is the REPLAY CURSOR (next unread
    date); each trigger advances it by `days_per_batch` until `end`,
    then latestOffset stops moving and processAllAvailable drains.
    partitions(start, end) fans out one InputPartition per symbol for
    the batch's date window — every micro-batch is an executor-
    parallel scan, same as the batch reader."""

    def __init__(self, options: dict):
        self.symbols, self.start, self.end = _scan_options(options)
        self.days_per_batch = int(options.get("days_per_batch", "7"))

    def initialOffset(self) -> dict:
        return {"cursor": self.start}

    def latestOffset(self) -> dict:
        # Called once per trigger, on the driver, on a long-lived
        # reader instance. A bounded replay could expose the final
        # offset immediately (one giant batch); advancing a driver-
        # side cursor one step per call instead paces the replay so
        # each trigger reads exactly one date window — the
        # maxFilesPerTrigger analog for this source, and what lets the
        # tests pin multi-batch behavior (verified: 5 batches for a
        # 31-day window at 7 days/batch).
        cur = getattr(self, "_cursor", date.fromisoformat(self.start))
        end = date.fromisoformat(self.end)
        nxt = min(cur + timedelta(days=self.days_per_batch), end + timedelta(days=1))
        self._cursor = nxt
        return {"cursor": nxt.isoformat()}

    def partitions(self, start: dict, end: dict) -> list:
        lo = _offset_date(start)
        hi = _offset_date(end)
        # Recovery path: replayed offsets also pull the pacing cursor
        # forward (see commit()) so post-restart planning resumes
        # after them instead of re-reading.
        self._fast_forward(max(lo, hi))
        if hi <= lo:
            return []
        # window [lo, hi): the fake fetch is end-inclusive, so hi-1
        return [
            _SymbolPartition(s, lo.isoformat(), (hi - timedelta(days=1)).isoformat())
            for s in self.symbols
        ]

    def read(self, partition: _SymbolPartition):
        return _read_partition(partition)

    def commit(self, end: dict) -> None:
        # Fast-forward the pacing cursor to the committed offset. This
        # is what makes RESTART exactly-once: on recovery Spark hands
        # the reader its committed position through commit()/
        # partitions() before new planning, and a fresh reader whose
        # cursor restarted at `start` must never re-announce an older
        # offset from latestOffset() — a regressed offset enters the
        # offset log and replays already-committed windows (observed:
        # 144 duplicate rows before this guard; pinned by
        # tests/test_round13.py::test_stream_datasource_restart).
        self._fast_forward(_offset_date(end))

    def _fast_forward(self, seen: "date") -> None:
        cur = getattr(self, "_cursor", date.fromisoformat(self.start))
        if seen > cur:
            self._cursor = seen

