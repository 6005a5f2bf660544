"""Structured Streaming incrementality (SURVEY.md §2.9).

The reference's `sync` is a micro-batch incremental pattern (per-key
watermark + late-data window + idempotent upsert). This module is the
same semantics on Spark's native streaming runtime:

- `stream_events` — file-source stream over the events table. The
  declared schema is chosen from the files' ACTUAL parquet logical
  type (footer-only pyarrow inspection): TIMESTAMP(MICROS/MILLIS)
  columns read natively as TIMESTAMP_NTZ, TIMESTAMP(NANOS)/raw-int64
  columns read as nanos longs — never hard-coded, so a fixture
  regeneration or writer change can't silently rescale event time
  (the round-4 1000×-collapse failure mode).
- `windowed_event_counts` — event-time tumbling-window aggregation with
  a watermark for late data (T2's principled replacement: instead of a
  re-fetch lookback, late rows within the watermark delay fold into
  their window).
- `foreach_batch_merge` — exactly-once-per-key sink: every micro-batch
  is merged into a ParquetTable with the K3 freshness guard, so replays
  and overlapping batches converge (T4) — `foreachBatch` is the
  documented Spark pattern for MERGE-style sinks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..store.parquet_table import ParquetTable

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


# Declared-schema variants; which one applies depends on the files' real
# parquet logical type (see `events_ts_unit`).
EVENTS_RAW_SCHEMA = _events_schema(T.LongType())  # TIMESTAMP(NANOS)/int64 as long
EVENTS_NTZ_SCHEMA = _events_schema(T.TimestampNTZType())  # TIMESTAMP(MICROS/MILLIS)


_UNIT_PROBE_MAX_FOOTERS = 8


def events_ts_unit(path: str) -> str:
    """Learn how `ts` is physically stored by reading parquet footers
    under `path` (file, directory, or glob): returns ``"timestamp"`` for
    TIMESTAMP(MICROS/MILLIS) logical columns (native TIMESTAMP_NTZ read)
    or ``"long_ns"`` for TIMESTAMP(NANOS)/raw-int64 columns (nanos-long
    read). Footer-only and bounded (first ``_UNIT_PROBE_MAX_FOOTERS``
    files) — no data pages are touched, so this is O(1) driver-side
    regardless of dataset size.

    Declared schemas MUST match the file's physical type: a LongType
    declaration over a micros column yields raw micros (not nanos), and
    any hard-coded unit conversion then rescales the timeline silently —
    the exact bug this probe exists to prevent. A MIXED-unit source
    raises rather than silently rescaling whichever subset the declared
    schema doesn't match (the one declared schema applies to every file
    of the stream). Defaults to ``"timestamp"`` (the testdata writer's
    convention) when no file exists yet (e.g. streaming an
    initially-empty source directory)."""
    import glob as globlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def parquet_files(entry: str):
        if os.path.isfile(entry):
            if entry.endswith(".parquet"):
                yield entry
            return
        if os.path.isdir(entry):
            for root, dirs, files in sorted(os.walk(entry)):
                dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
                for f in sorted(files):
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        yield os.path.join(root, f)

    samples: list[str] = []
    for entry in sorted(globlib.glob(path)) or [path]:
        for f in parquet_files(entry):
            samples.append(f)
            if len(samples) >= _UNIT_PROBE_MAX_FOOTERS:
                break
        if len(samples) >= _UNIT_PROBE_MAX_FOOTERS:
            break
    if not samples:
        return "timestamp"

    def unit_of(sample: str) -> str:
        field = pq.ParquetFile(sample).schema_arrow.field("ts")
        if pa.types.is_timestamp(field.type) and field.type.unit in ("us", "ms"):
            return "timestamp"
        return "long_ns"

    units = {unit_of(s) for s in samples}
    if len(units) > 1:
        raise ValueError(
            f"mixed ts physical types under {path!r}: one declared stream "
            "schema cannot read both TIMESTAMP(MICROS/MILLIS) and "
            "NANOS/int64 files — rewrite the source to one unit"
        )
    return units.pop()


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the events table (one file = one micro-batch
    at most; pass `max_files_per_trigger` to cap files per epoch — the
    way a replayed directory becomes a genuine multi-batch feed).

    Event time comes out as a true TIMESTAMP instant (epoch-µs == the
    stored wall-clock µs, session-tz-free): Spark's watermark machinery
    requires TimestampType, and both unit branches build the instant
    with pure wall-clock arithmetic."""
    import os

    unit = events_ts_unit(sf_dir)
    if unit == "long_ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = EVENTS_RAW_SCHEMA if unit == "long_ns" else EVENTS_NTZ_SCHEMA
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(sf_dir):
        # File streams source requires a directory: stream the parent,
        # glob-filtered to the one file.
        reader = reader.option("pathGlobFilter", os.path.basename(sf_dir))
        sf_dir = os.path.dirname(sf_dir)
    raw = reader.load(sf_dir)
    if unit == "long_ns":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NTZ wall-clock → instant carrying the same µs value: timestampdiff
    # against an NTZ epoch base never consults the session timezone.
    return raw.withColumn(
        "ts",
        F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
        ),
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark_delay: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Event-time tumbling window + watermark: the streaming analog of
    the batch `hourly_event_rollup` query (same window boundaries).
    Pass `slide` for hopping windows (the `sliding_window_counts`
    analog — each event enters window/slide windows).

    The money sum goes through integer cents like every batch
    aggregate (functions/money.py): raw double summation is
    order-dependent across micro-batches, and the integer path is what
    lets the streaming result hash-match the batch oracle exactly."""
    cents = F.round(F.col("value") * 100).cast("long")
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            (F.col("sum_cents") / 100.0).alias("sum_value"),
        )
    )


def sessionized_event_counts(
    events: DataFrame, gap: str = "30 minutes", watermark_delay: str = "2 hours"
) -> DataFrame:
    """Event-time SESSION windows on the streaming runtime: gap-based
    session assignment inside the aggregation operator — the same
    `session_window` expression the batch plan uses, so streaming and
    batch sessions agree exactly. Sessions are merge-able state: a late
    row within the watermark can bridge two open sessions and the
    runtime merges their state (the semantics a hand-rolled
    lag+cumsum cannot express incrementally).

    Money through integer cents (micro-batch-boundary-independent),
    same as every aggregate in this engine."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(F.count("*").alias("n"), F.sum(cents).alias("sum_cents"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            "n",
            (F.col("sum_cents") / 100.0).alias("sum_value"),
        )
    )


def interval_join_clicks(
    events: DataFrame,
    attribution_window: str = "6 hours",
    watermark_delay: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time range predicate: every
    (click, purchase) pair for the same user where the purchase lands
    within `attribution_window` after the click.

    `join_type="left_outer"` additionally emits every UNMATCHED click
    with NULL purchase columns — but only once the watermark passes
    `click_ts + attribution_window`, i.e. once no future purchase
    could still match (the runtime cannot know a click is unmatched
    earlier; this delayed-NULL semantics is the documented behavior of
    watermarked outer stream-stream joins). Clicks still inside the
    final watermark horizon stay buffered and never emit — callers
    comparing against a batch oracle must scope the NULL rows to
    `click_ts + window < final watermark` (see
    plans/round9_queries.py::streaming_click_outer_join).

    State stays bounded because BOTH sides carry watermarks and the
    join condition bounds purchase_ts relative to click_ts in both
    directions — the runtime can expire a buffered click once the
    purchase-side watermark passes click_ts + window (and vice versa),
    which is the documented requirement for stream-stream joins to
    avoid unbounded state (and, for outer joins, the trigger that
    emits the NULL row). The equality key (user_id) hash-partitions
    both sides, so each executor joins only its own users."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark_delay)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark_delay)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {attribution_window}"
        ),
        join_type,
    )
    if join_type == "left_semi":
        # Semi output carries only the click side: one row per click
        # that (ever) matched, emitted when the first match arrives —
        # no watermark wait, the watermark only bounds join state.
        return joined.select("user_id", "click_id", "click_ts")
    return joined.select(
        # coalesce: under full_outer the click side's key is NULL on
        # unmatched-purchase rows; for inner/left_outer the two keys are
        # equal (or p_user_id is NULL), so this is value-identical to
        # the plain click-side key the hash-green twins were checked on.
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def streaming_dedup(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps one
    row per key while the watermark bounds the dedup state (a plain
    dropDuplicates on a stream would hold every key forever — the
    unbounded-state failure mode at 100 TB/day feeds). This is the
    streaming twin of the batch exact-dedup operator: at-least-once
    sources (Kafka redeliveries, file-stream replays) collapse to
    exactly-once rows before the window aggregation."""
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def foreach_batch_merge(
    stream_df: DataFrame,
    table: ParquetTable,
    keys: Sequence[str],
    freshness_col: str | None = None,
    checkpoint: str | None = None,
    dedup_order: Sequence | None = None,
) -> StreamingQuery:
    """Micro-batch MERGE sink: each epoch upserts into `table` under the
    K3 guard — the streaming form of the reference's sync loop. Pass
    `dedup_order` when a batch can carry several ops per key (a CDC
    feed): the pre-merge dedup keeps the batch's winning op, and the
    freshness guard then arbitrates across batches. Without it, an epoch
    whose batch repeats a key fails (the merge refuses it with
    ValueError) and commits nothing."""

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # merge() skips an empty batch itself; a check here would cost
        # one more Spark job per epoch.
        table.merge(
            batch_df, keys=keys, freshness_col=freshness_col,
            dedup_order=dedup_order,
        )

    writer = stream_df.writeStream.outputMode("append").foreachBatch(merge_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def foreach_batch_cms(
    stream_df: DataFrame,
    table: ParquetTable,
    key_col: str = "user_id",
    d: int = 4,
    w: int = 1024,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Incremental Count-Min maintenance: every micro-batch's keys are
    sketched (d x w counters, portable md5 hashing) and ADDED cell-wise
    into a persistent counter table — the sketch-upkeep pattern for
    always-on frequency service over an unbounded feed. Linearity makes
    the result batching-invariant: any partition of the stream into
    micro-batches converges to the counters of the union (tested).

    The counter table stays d*w rows forever, no matter how many
    distinct keys flow through — reading it answers frequency queries
    without touching the feed. At scale the per-batch sketch is a
    map-side-combinable groupBy of the batch only; the read-add-write
    touches just the (tiny) counter table."""
    from ..functions.text import portable_hash64

    def sketch(df: DataFrame) -> DataFrame:
        keyed = df.select(
            F.col(key_col).cast("string").alias("k"),
            F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r"),
        ).select(
            "r",
            F.pmod(
                portable_hash64(
                    F.concat(F.lit("cms:"), F.col("r").cast("string"),
                             F.lit(":"), F.col("k"))
                ),
                F.lit(w),
            ).alias("col"),
        )
        return keyed.groupBy("r", "col").agg(F.count("*").alias("c"))

    def add_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = sketch(batch_df)
        merged = (
            table.read()
            .unionByName(delta)
            .groupBy("r", "col")
            .agg(F.sum("c").alias("c"))
        )
        table.overwrite(merged)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(add_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
