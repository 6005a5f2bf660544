"""Table scans over the driver's parquet testdata + generic source ops.

Reference scan surface (SURVEY.md §2.1): parquet/Delta table scan (S5),
schema'd CSV directory scan (S4), typed empty relation (S3 empty-result
short-circuit, reference pse_edge.py:206,239-240 and
spark_deltalake_sync.py:125-128).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table (S5 analog).

    Plain `spark.read.parquet` — Catalyst handles predicate pushdown and
    column pruning, so callers should filter/select on the result and let
    the optimizer reach the scan.

    The driver's parquet stores timestamps as TIMESTAMP(NANOS). Reading
    them must be deterministic under ANY caller-provided session (the
    correctness driver builds its own SparkSession with unknown configs /
    timezone), so: force the nanosAsLong read path at runtime, then
    rebuild a TIMESTAMP_NTZ with pure wall-clock arithmetic from the µs
    value — `timestampadd` on an NTZ epoch base never consults the
    session timezone. ns→µs truncation matches DuckDB's.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    declared = TESTDATA_SCHEMAS.get(name)
    if declared is not None:
        actual = dict(df.dtypes)
        for f in declared.fields:
            if isinstance(f.dataType, T.TimestampType) and actual.get(f.name) == "bigint":
                # `div` = integer division: ns longs exceed double's exact
                # range, so a float divide would corrupt low-order digits.
                df = df.withColumn(
                    f.name,
                    F.expr(
                        f"timestampadd(MICROSECOND, {f.name} div 1000, "
                        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                    ),
                )
    return df


# Inferring a parquet schema reads the footers on the driver: about
# 80 ms per table even for a tiny file, more than the rest of planning
# a small query. The schema is a function of the files and of the
# confs that steer parquet type mapping, so it is cached under both.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMAS: dict[tuple, T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, inferring the schema only once for
    the same files (path, mtime, size) under the same confs."""
    try:
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        stats = tuple((f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)])
    except OSError:
        stats = ()
    if not stats:
        return spark.read.parquet(path)  # Spark reports a missing/empty path
    key = (stats, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def scan_tasks_estimate(sf_dir: str, name: str) -> int:
    """Upper estimate of the scan-task count Spark will give one
    testdata table: ceil(file bytes / spark.sql.files.maxPartitionBytes)
    summed over the table's parquet files (parquet actually splits at
    row-group boundaries, so the real count is <= this). Pure local
    file-stat arithmetic — no job, no session, safe inside a timed
    query build."""
    import math

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ] or [path]
    else:
        return 1
    mpb = 128 << 20  # Spark's default spark.sql.files.maxPartitionBytes
    try:
        return sum(
            max(1, math.ceil(os.path.getsize(f) / mpb)) for f in files
        )
    except OSError:
        return 1


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """load_table + a scale-ADAPTIVE parallelism floor for CPU-heavy
    per-row work (guide §2.4: partitioning must derive from input size,
    not a constant tuned for one deployment).

    A small parquet file reads as ONE scan task, so a downstream
    tokenize/explode/hash projection that costs 100x the scan runs
    serially while the other cores idle (measured: the sf0.1 shingle
    working-set build is a single 1.3s task which ~10 concurrent
    lineages of docs_pipeline_keep block on). When the estimated scan
    parallelism is below the session's core count, hash-repartition on
    `keys` up to the core count BEFORE the expensive projection; the
    exchange ships only the raw scan columns (here: the corpus bytes,
    exactly once). At real scale the scan already yields >= floor tasks
    and this is a structural no-op — no exchange is added — so the
    production plan is untouched; the floor only engages where the
    data is small relative to the machine, which is exactly where it
    is cheap. The explicit numPartitions keeps AQE from re-coalescing
    the tiny-but-CPU-dense partitions back to one (AQE sizes by bytes
    and cannot see per-row compute cost).

    Floor width: cores/4 (min 2), overridable via $SPARK_GRAFT_SPREAD.
    Full-cores width was A/B-measured WORSE than cores/4 on local[32]
    (tokenize/explode text work is allocation-rate bound; 32 concurrent
    tasks in one JVM tripled the measured CPU of the same stage via
    GC/memory contention, corpus_build 2.7s -> 4.4s, while width 4-8
    cut every consumer 1.4-2.1x) — the quarter-cores default encodes
    that allocation-heavy map work saturates a shared memory subsystem
    well before it saturates the core count, which holds for any
    multi-core executor, not just this box."""
    df = load_table(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    floor = int(os.environ.get("SPARK_GRAFT_SPREAD", "0")) or max(2, cores // 4)
    if scan_tasks_estimate(sf_dir, name) < floor:
        df = df.repartition(floor, *[F.col(k) for k in keys])
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    """Expose testdata tables as SQL temp views (reference pattern:
    spark_deltalake_sync.py:139 createOrReplaceTempView)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv_dir(spark: SparkSession, path_glob: str, schema: T.StructType) -> DataFrame:
    """S4: CSV directory scan with a *declared* schema.

    The reference's delta-rs path enforces a declared schema on CSV read
    (deltalake_sync.py:229) while its Spark path sloppily infers
    (spark_deltalake_sync.py:293); we keep the strict form — at 100 TB an
    inferSchema pass would read the data twice.
    """
    return spark.read.csv(path_glob, header=True, schema=schema)


def read_orc_dir(spark: SparkSession, path_glob: str, schema: T.StructType) -> DataFrame:
    """ORC directory scan with a declared schema (S4 sibling).

    ORC is the second columnar staging format warehouses hand off in
    (Hive/Trino interchange); Spark's reader is built-in and supports
    the same predicate pushdown + column pruning as parquet. The
    declared schema keeps the no-inference rule (SURVEY.md §7.4)."""
    return spark.read.schema(schema).orc(path_glob)


def read_json_dir(spark: SparkSession, path_glob: str, schema: T.StructType) -> DataFrame:
    """JSON-lines directory scan with a declared schema (S4 sibling).

    The declared schema matters even more than for CSV: schema
    inference over JSON reads the whole dataset once before the real
    scan, and silently widens types across files. With an explicit
    schema the scan is single-pass and missing keys become typed
    nulls."""
    return spark.read.schema(schema).json(path_glob)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """S6: JDBC/warehouse table scan (reference postgres_sync.py:23,33 /
    bigquery_sync.py:38,48 pull whole tables into pandas; here the scan
    is distributed). Round-trip-tested against the Derby embedded
    driver bundled in pyspark's jars (tests/test_jdbc.py). At scale
    ALWAYS pass `partition_column` + bounds: without them the whole
    table arrives through one executor connection."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
