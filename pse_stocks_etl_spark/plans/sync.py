"""The incremental sync engine (SURVEY.md §7 M4) — the reference's three
actions (initdb / backfill / sync, src/main.py:25-28) rebuilt as Spark
plans over the ParquetTable store.

Pipeline per sync run (mirrors §3.3's lifecycle minus the CSV detour):

  dimension:  extract (connector) → overwrite company table       (K1)
  fact:       A1 watermark groupBy over the sink table
              → J4 broadcast-join against the key universe
              → F2/T2/T3 date windows (lookback, Manila horizon)
              → P7 pending-key filter
              → T5 distributed executor-side fetch (mapInPandas)
              → A2 argmax dedup (mandatory pre-merge invariant)
              → K3 freshness-guarded merge

Idempotency (T4): replaying any window converges — the merge key is
(symbol, date) and the freshness guard keeps newer extracts. `backfill`
is `sync` with lookback_days=36500, exactly like the reference
(postgres_sync.py:262).
"""

from __future__ import annotations

import os
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.watermark import incremental_windows, pending_keys, watermarks
from ..schemas import COMPANY_SCHEMA, DAILY_STOCK_PRICE_SCHEMA
from ..sources.pse_edge import FakePseEdge, distributed_fetch
from ..store.parquet_table import ParquetTable

BACKFILL_LOOKBACK_DAYS = 36500  # reference postgres_sync.py:262


class PseDatasets:
    """The two reference tables as ParquetTable-backed datasets."""

    def __init__(self, spark: SparkSession, root: str, connector=None) -> None:
        self.spark = spark
        self.connector = connector or FakePseEdge()
        self.company = ParquetTable(spark, os.path.join(root, "company"), COMPANY_SCHEMA)
        # Fact partitioned by date — mirrors BigQuery PARTITION BY date
        # (db/bigquery/daily_stock_price.sql:16); merges of a trailing
        # window rewrite only recent partitions at scale.
        self.prices = ParquetTable(
            spark,
            os.path.join(root, "daily_stock_price"),
            DAILY_STOCK_PRICE_SCHEMA,
            partition_by=("date",),
            # CHECK constraints (Delta/DLT expectation analog): a feed
            # regression that emits inverted or non-positive OHLC bars
            # fails the commit instead of poisoning the table.
            constraints={"valid_ohlc": "low > 0 AND low <= close AND close <= high"},
        )
        self.last_batch_metrics: dict = {}

    # -- actions (src/main.py:25-28) --------------------------------------
    def initdb(self) -> None:
        """K10: create both tables as empty typed relations."""
        self.company.init_empty()
        self.prices.init_empty()

    def sync_companies(self) -> int:
        """Dimension sync: full extract → K1 overwrite
        (spark_deltalake_sync.py:160-163)."""
        pdf = self.connector.get_listed_companies()
        df = self.spark.createDataFrame(pdf, COMPANY_SCHEMA)
        self.company.overwrite(df)
        return len(pdf)

    def price_fetch_plan(
        self,
        lookback_days: int = 0,
        today: str | None = None,
    ) -> DataFrame:
        """A1 → J4 → F2/T2/T3 → P7: one row per symbol still needing data.
        Stays a DataFrame end-to-end (the reference collapses this to a
        driver dict at spark_deltalake_sync.py:213 — we don't)."""
        symbols = self.company.read().select("symbol")
        wm = watermarks(self.prices.read(), "symbol", "date")
        windows = incremental_windows(
            symbols,
            wm,
            "symbol",
            lookback_days=lookback_days,
            today=today,
        )
        return pending_keys(windows)

    def sync_prices(
        self,
        lookback_days: int = 0,
        today: str | None = None,
    ) -> int:
        """Fact sync: fetch pending windows executor-side, dedup, merge."""
        plan = self.price_fetch_plan(lookback_days, today)
        connector = self.connector  # capture for executor closure

        def fetch(symbol: str, start: date, end: date):
            return connector.get_stock_data(symbol, start, end)

        # Persist the fetch result: count + the merge plan reference the
        # batch several times (affected-partition collect, the write, and
        # on re-merged partitions the merge join), and without
        # pinning it each reference would re-run the connector fetch —
        # several times the API cost, and a live connector could
        # return *different* rows per execution, making the merge's
        # branches disagree (duplicate/dropped keys).
        # Observation API: batch telemetry (row count, symbol spread,
        # date range) rides along with the count() action — no second
        # pass over the fetched data for metrics.
        from pyspark.sql import Observation

        obs = Observation()
        batch = (
            distributed_fetch(plan, fetch)
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.approx_count_distinct("symbol").alias("approx_symbols"),
                F.min("date").alias("min_date"),
                F.max("date").alias("max_date"),
            )
            .persist()
        )
        try:
            n = batch.count()
            self.last_batch_metrics = dict(obs.get)
            if n == 0:  # empty-batch short-circuit (pse_edge.py:239-240)
                return 0
            self.prices.merge(
                batch,
                keys=("symbol", "date"),
                freshness_col="extracted_at",
                # A2 pre-merge dedup: max close wins, deterministic tiebreak.
                dedup_order=[F.col("close").desc(), F.col("extracted_at").desc()],
            )
        finally:
            batch.unpersist()
        return n

    def sync(self, today: str | None = None, lookback_days: int = 0) -> dict:
        n_companies = self.sync_companies()
        n_prices = self.sync_prices(lookback_days=lookback_days, today=today)
        return {"companies": n_companies, "price_rows": n_prices}

    def backfill(self, today: str | None = None) -> dict:
        return self.sync(today=today, lookback_days=BACKFILL_LOOKBACK_DAYS)
