"""pse_stocks_etl_spark — a PySpark-native analytics engine.

Brand-new implementation of the query / data-processing surface of the
reference ETL pipeline (anthonym8/pse-stocks-etl, surveyed in SURVEY.md),
re-expressed Spark-first:

- DataFrame / Spark SQL logical plans, Catalyst does the optimizing.
- Columnar parquet storage with an ACID-ish merge layer (Delta MERGE
  semantics emulated as one full outer join of a key-unique batch and
  the table; delta-spark jars are not in this image).
- Incremental sync (per-key watermark -> date window -> fetch -> dedup ->
  freshness-guarded upsert) as pure DataFrame logic.
- LLM-data-pipeline extensions: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / connected-component clustering), similarity search
  (brute-force, LSH, IVF), text analysis, multimodal columns.

Layout:
    session.py    SparkSession builder (AQE, UTC, Arrow).
    schemas.py    Canonical StructTypes (company / daily_stock_price /
                  testdata tables).
    operators/    Relational operators (dedup, watermark, merge, topk...).
    sources/      Scans + the (stubbed) PSE Edge connector.
    functions/    Column-expression libraries (datetime, text, vectors).
    plans/        The sync planner (plans/sync.py) + the queries()/oracle_sql()
                  registry, whose query modules load on first use.
    streaming/    Structured Streaming incremental ingestion.
    store/        Parquet-backed table with merge/overwrite/delete.
"""

__version__ = "0.1.0"
