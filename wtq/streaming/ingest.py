"""Structured Streaming ingestion.

The reference is purely batch (SURVEY.md §2.9) — snapshot download →
full reprocess (bash/run_all:1-5).  The idiomatic Spark upgrade path
it calls out is incremental processing via ``Trigger.AvailableNow``:
the stream reads whatever is available, processes it with the same
logic as batch, checkpoints, and stops — giving resumable incremental
runs without a long-lived cluster.  This module provides that path
for the events table (windowed rollups) and a custom stateful
operator (per-user running counters) via ``applyInPandasWithState``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _run_available_now(
    stream_df: DataFrame,
    checkpoint: str,
    mode: str = "complete",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow through a foreachBatch
    parquet sink and read the result back.

    The round-1 memory sink stored the result table on the driver — a
    driver-side bottleneck anyone copying the pattern at scale would
    inherit.  foreachBatch writes are executor-distributed: complete
    mode overwrites with the latest full result; update mode appends
    each micro-batch tagged with its batch id, and read-back keeps the
    last emission per key (`key_cols` required)."""
    out_dir = checkpoint.rstrip("/") + "_out"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if mode == "complete":
            batch_df.write.mode("overwrite").parquet(out_dir)
        else:
            batch_df.withColumn("__batch", F.lit(batch_id)).write.mode("append").parquet(out_dir)

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    if not os.path.exists(out_dir):
        # zero micro-batches fired (empty/missing source): behave like
        # the old memory sink and return an empty result, not a
        # PATH_NOT_FOUND crash
        spark = stream_df.sparkSession
        return spark.createDataFrame([], stream_df.schema)
    result = stream_df.sparkSession.read.parquet(out_dir)
    if mode != "complete":
        if not key_cols:
            raise ValueError("update-mode read-back needs key_cols to keep the last emission per key")
        w = Window.partitionBy(*key_cols).orderBy(F.col("__batch").desc())
        result = (
            result.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__batch")
        )
    return result


def windowed_event_counts(spark: SparkSession, sf_dir: str, checkpoint: str) -> DataFrame:
    """Tumbling 1-hour windows with a 1-hour watermark over the events
    table read as a stream (one file = one micro-batchable source).
    Late rows beyond the watermark would be dropped — none exist in
    the snapshot, so results equal the batch time_bucket rollup."""
    # streaming file source needs a directory; glob-filter to the events file
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "1 hour")
        .groupBy(F.window("ts_ltz", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value"),
        )
    )
    out = _run_available_now(agg, checkpoint)
    return out.select(
        F.unix_millis(F.col("w.start")).alias("window_ms"),
        "event_type",
        "n",
        "total_value",
    )


SQL_WINDOWED_EVENT_COUNTS = """
SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_ms,
       event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def stream_dedup_join_counts(spark: SparkSession, sf_dir: str, checkpoint: str) -> DataFrame:
    """Streaming dedup + stream-static join (SURVEY.md §2.9 upgrade
    surface): the source is replayed ×2 inside the stream (explode) to
    simulate at-least-once redelivery, `dropDuplicates(event_id)`
    under a watermark restores exactly-once, then a stream-static
    broadcast join attaches a tier dim and a windowless rollup counts
    per tier.  The dedup is load-bearing: without it every count
    doubles, so the batch oracle (plain per-tier rollup of the
    original events) catches a dedup regression."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    replayed = src.withColumn("copy", F.explode(F.array(F.lit(1), F.lit(2))))
    # dropDuplicatesWithinWatermark — NOT dropDuplicates([id]): with a
    # plain subset that excludes the event-time column, the watermark
    # never evicts dedup state and the state store grows one entry per
    # event_id forever on a continuous stream
    deduped = (
        replayed.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    tiers = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type")
        .distinct()
        .withColumn("tier", F.upper(F.substring("event_type", 1, 1)))
    )
    joined = deduped.join(F.broadcast(tiers), "event_type")
    # money discipline (DEVNOTES §9): sum in the decimal domain so the
    # result is independent of partition/micro-batch merge order
    agg = joined.groupBy("tier").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value"),
    )
    return _run_available_now(agg, checkpoint)


SQL_STREAM_DEDUP_JOIN_COUNTS = """
SELECT upper(substr(event_type, 1, 1)) AS tier, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY 1
"""


PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampNTZType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def streaming_pipeline(spark: SparkSession, pages_path: str, checkpoint: str, out_dir: str) -> None:
    """The quality-filter pipeline as an incremental job: the SAME
    ``decide`` logic the batch path runs, driven by Structured
    Streaming with ``Trigger.AvailableNow`` through a foreachBatch
    parquet sink.  This is the snapshot-reprocess → incremental
    upgrade path SURVEY.md §2.9 names: new crawl files land in the
    directory, the next run processes only them, checkpoint state
    carries forward.

    Re-crawl dedup note: within a micro-batch the batch window dedup
    applies verbatim; across batches, url-level latest-crawl selection
    is the checkpoint/Iceberg MERGE concern (wtq/checkpoint.py) — a
    streaming dropDuplicates would keep the FIRST sighting, which is
    the wrong row for re-crawls, so it is deliberately not used here.
    Equality with the batch pipeline on a snapshot is gated in
    tests/test_streaming.py."""
    from wtq.pipeline import decide

    import os

    # a file path must not widen into its parent directory's glob —
    # sibling tables would stream through the pinned schema as
    # all-null rows; restrict the glob to exactly the named file
    if os.path.isdir(pages_path):
        src_dir, pattern = pages_path, "*.parquet"
    else:
        src_dir, pattern = os.path.dirname(pages_path), os.path.basename(pages_path)
    src = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("pathGlobFilter", pattern)
        .parquet(src_dir)
    )

    def _process(batch_df, batch_id: int) -> None:
        # per-batch directory with overwrite = idempotent under batch
        # REPLAY: a crash between sink write and checkpoint commit
        # re-runs the batch into the same path instead of appending a
        # duplicate copy (read-back discovers `batch` as a partition
        # column)
        decide(batch_df, num_partitions=batch_df.sparkSession.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")

    q = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_OUT_SCHEMA = "user_id long, n long, total double"


def _update_user_state(key, pdfs, state: GroupState):
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame([{"user_id": user_id, "n": n, "total": total}])


def running_user_totals(spark: SparkSession, sf_dir: str, checkpoint: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total (SURVEY.md §2.9 upgrade path)."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stateful = (
        src.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=_OUT_SCHEMA,
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_available_now(stateful, checkpoint, mode="update", key_cols=["user_id"])
