"""Structured Streaming incremental execution (S4, SURVEY.md §2.8).

The reference's bronze and silver layers are *streaming tables*: incremental,
append-driven, checkpointed (/root/reference/scripts/bronze/bronze_ingestion.py:21-31,
README.md:36,45 "INCREMENTAL LOAD"). On Databricks that runs as DLT-managed
Structured Streaming; this module is the open-source equivalent:

- :func:`stream_source` / :func:`run_incremental` — a file-source stream with
  an ``availableNow`` trigger: each call processes exactly the files that
  arrived since the last run (checkpoint-tracked) and terminates. That is the
  per-pipeline-run behavior of a DLT streaming table, and it is restartable
  and exactly-once on the sink side via the checkpoint + _spark_metadata log.
- :func:`windowed_event_counts` — watermarked tumbling-window aggregation.
  The reference itself never sets a watermark (SURVEY.md §2.8: none anywhere)
  because batch-incremental DLT sidesteps state growth; the engine surfaces
  watermarks explicitly because at 100 TB/day an unbounded-state stream dies.
- :func:`sessionized_event_counts` — session-window (gap-based) aggregation.
- :func:`dedup_stream` — stateful streaming dedup with a bounded-state
  watermark (``dropDuplicatesWithinWatermark``), the scale-safe version of the
  reference's unbounded ``dropDuplicates`` on streams
  (/root/reference/scripts/silver/silver_products.py:119,
  order_reviews.py:52).

Scale notes: every construct here keeps state bounded (watermark-expired
state is dropped per microbatch) and shuffles once on the grouping keys;
sinks are distributed file sinks — the driver never sees rows. The in-memory
sink used by the correctness queries (``queries.py``) is a test harness
convenience, not the production path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    path_glob_filter: str | None = None,
) -> DataFrame:
    """Parquet file-source stream over a landing directory (Auto Loader
    analogue).

    Streaming reads require an explicit schema; when none is given, the
    batch reader infers it once from the current directory contents — the
    same infer-once contract as sources/csv_ingest.py. ``path`` must be a
    directory (FileStreamSource contract); select files within it via
    ``path_glob_filter``.
    """
    if schema is None:
        reader = spark.read.format("parquet")
        if path_glob_filter:
            reader = reader.option("pathGlobFilter", path_glob_filter)
        schema = reader.load(path).schema
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.load(path)


def run_incremental(df: DataFrame, target_path: str, checkpoint: str) -> None:
    """One ``availableNow`` microbatch run: process all unseen input, stop.

    Parity with a DLT streaming-table update: incremental (checkpoint skips
    files already processed), append-mode, exactly-once sink commit through
    the parquet streaming file sink's transaction log.
    """
    q = (
        df.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint)
        .option("path", target_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _needs_no_data_batches(df: DataFrame, output_mode: str) -> bool:
    """Whether a stream's output can wait on a no-data microbatch: in
    append mode a streaming aggregation or an outer join holds rows back
    until the watermark passes, and a stateful function with a timeout
    fires its timers in such a batch. Nothing else does."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if output_mode == "append" and (
            (name == "Aggregate" and node.isStreaming())
            or (name == "Join" and "Outer" in node.joinType().toString())
        ):
            return True
        if name.startswith("FlatMapGroups") and node.timeout().toString() != "NoTimeout":
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


#: Stateful-operator partitions of a :func:`run_to_memory` stream.
STATE_PARTITIONS = 8


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Run a stream to completion into an in-memory table (test/oracle path).

    The memory sink collects to the driver — fine for the sf0.01 correctness
    gate, never for production; use :func:`run_incremental` there.

    :data:`STATE_PARTITIONS` sizes the stateful-operator partitioning (state
    store count = ``spark.sql.shuffle.partitions`` at FIRST run, pinned by
    the checkpoint thereafter; AQE never touches streaming plans). It is
    sized to stream volume, not cluster width: every microbatch pays one
    state-store load/commit per partition per stateful operator, so an
    oversized count turns into pure fixed overhead (32→8 partitions cut the
    test streams 4-5×), while a 100 TB/day stream genuinely needs
    thousands. The session value is restored afterwards so batch queries
    keep the cluster-width setting.

    No-data microbatches (the zero-row finalization batch availableNow
    appends to advance the watermark) stay on only when the output can wait
    on one (:func:`_needs_no_data_batches`): an append-mode streaming
    aggregation or outer join, or a stateful function with a timeout.
    Every other stream emits the same table without that batch, which
    would only evict state the terminating query discards, at the cost of
    a full state-store load/commit across every partition (~0.7 s of the
    2.4 s stream-join run). The session value is restored afterwards.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata_key)
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    spark.conf.set(nodata_key, str(_needs_no_data_batches(df, output_mode)).lower())
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(nodata_key, prev_nodata)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Watermarked stateful transformations
# ---------------------------------------------------------------------------

def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts/sums per event type with a late-data watermark.

    State per (window, event_type) is dropped once the watermark passes the
    window end, so executor state stays O(active windows), not O(stream).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # decimal accumulate → exact, order-independent sums (oracle-stable)
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows (activity separated by < ``gap``) per user.

    ``session_window`` is Spark's native gap-based window — state closes when
    the watermark passes a session's end, bounding memory on infinite streams.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with bounded state.

    The reference calls plain ``dropDuplicates`` on streams, which keeps every
    key seen forever (silver_products.py:119). With a watermark,
    ``dropDuplicatesWithinWatermark`` expires state and survives unbounded
    streams — duplicates arriving within the watermark interval are removed,
    which is the practical contract for at-least-once sources.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window counts/sums per event type (overlapping windows).

    Each event lands in ``window/slide`` concurrent windows; state is still
    bounded by the watermark. Same decimal-accumulation contract as the
    tumbling variant so results are exact and order-independent.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    join_cond,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join (J2, SURVEY.md §2.3, in true stream mode).

    The reference joins two streams with no watermark
    (/root/reference/scripts/silver/order_reviews.py:39-53) — on an unbounded
    stream that buffers both sides forever. Here both inputs carry an
    event-time watermark and ``join_cond`` must range-bound the two event
    times (e.g. ``left.ts BETWEEN right.ts - INTERVAL 1 HOUR AND right.ts``);
    Spark then derives a state-eviction bound for each side, keeping join
    state O(watermark window), not O(stream).

    Inner-join matches emit as soon as both rows arrive (no watermark delay);
    the watermark only governs state cleanup — so an ``availableNow`` run
    emits the complete join of the files processed.
    """
    return left.withWatermark(left_ts, watermark).join(
        right.withWatermark(right_ts, watermark), join_cond, how
    )


#: Dataset name a failed :func:`run_incremental_with_expectations` batch
#: reports in its :class:`ExpectationViolation`.
STREAM_DATASET = "stream"


def run_incremental_with_expectations(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    expectations: list,
) -> list[dict]:
    """Streaming ingest with per-microbatch data-quality expectations.

    The SURVEY §7.2 hard point, solved with ``foreachBatch``: each
    microbatch drops the rows that violate a drop-mode expectation, then
    goes through the same checked-write step as a pipeline table
    (``plans/registry.py::checked_write``): fail-level predicates abort the
    query via :class:`ExpectationViolation` before the batch is appended
    (the DLT ``ON VIOLATION FAIL UPDATE`` semantic), and warn and fail
    counts come from one Observation over exactly the appended rows
    (``plans/expectations.py``: the contract).

    Returns the per-batch metrics list ``[{"batch_id": n, <warn_name>:
    violations, ...}, ...]``. Exactly-once note: with a parquet sink a batch
    that fails AFTER its append but before checkpoint commit replays as
    at-least-once; a transactional sink (Delta) upgrades this to
    exactly-once — same contract as DLT on Delta.
    """
    from ..plans.expectations import apply_expectations
    from ..plans.registry import DatasetDef, checked_write

    dataset = DatasetDef(STREAM_DATASET, "table", expectations=expectations)
    batch_metrics: list[dict] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        counts = checked_write(
            dataset,
            apply_expectations(batch_df, expectations),
            lambda out: out.write.mode("append").parquet(target_path),
        )
        batch_metrics.append({"batch_id": batch_id, **counts.get("expectations", {})})

    q = (
        df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batch_metrics


def windowed_distinct_users(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Distinct users per tumbling window — two chained stateful operators
    (watermarked dedup, then event-time window aggregation) in ONE streaming
    query.

    Exact streaming COUNT(DISTINCT) is normally impossible with bounded
    memory; the classic trick is to dedup on (window-bucket, user, type)
    first — after which a plain COUNT is a distinct count — and let the
    shared watermark expire both operators' state. Chained event-time
    stateful operators are supported natively since Spark 3.5 (the dedup's
    surviving row keeps its event time, so the downstream window sees real
    event-time semantics).

    The dedup bucket is the DOWNSTREAM WINDOW itself (``window(ts,
    window).start``), so bucket and aggregation window stay aligned for ANY
    window length — a fixed hour bucket would undercount sub-hour windows
    (one survivor per hour) and double-count multi-hour ones (one survivor
    per hour, several per window). Any surviving row of a (bucket, user,
    type) group lands in exactly its window, so the final counts are
    deterministic even though WHICH duplicate survives is not.

    State per operator is O(active windows × distinct users), not O(rows);
    both stores expire at the same watermark.
    """
    return (
        events.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .withColumn("__bucket", F.window(F.col(ts_col), window).getField("start"))
        .dropDuplicatesWithinWatermark(["__bucket", "user_id", "event_type"])
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("distinct_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "distinct_users",
        )
    )
