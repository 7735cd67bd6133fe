"""Event time & watermarks (SURVEY §2.5, E1-E6).

``with_event_time`` ≙ ``assignTimestampsAndWatermarks(WatermarkStrategy
.forBoundedOutOfOrderness(...) + SerializableTimestampAssigner)``
(reference WindowFunctions.scala:42-49, TimeBasedTransformations.scala:54-62,
MultipleStreams.scala:66-83): the timestamp assigner is the column choice;
the bounded-out-of-orderness bound is the withWatermark delay.

Late-data semantics (E6): records older than watermark are dropped from
windowed aggregations — identical drop rule to Flink's default (no
allowed-lateness / side-output in the reference either).

The custom WatermarkGenerator (E2, TimeBasedTransformations.scala:76-91)
computes max(ts) - maxDelay - 1ms periodically; Spark's built-in watermark
is max(ts) - delay per micro-batch — same bound, cadence differs (documented
deviation, SURVEY §7.3). ``processing_time_trigger`` tunes the cadence
analog of setAutoWatermarkInterval (E3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_event_time(df: DataFrame, ts_col: str, max_out_of_orderness: str) -> DataFrame:
    """Declare event-time + bounded out-of-orderness on a streaming frame.

    e.g. ``with_event_time(stream, "time", "500 milliseconds")`` ≙ the
    reference's forBoundedOutOfOrderness(Duration.ofMillis(500)).
    No-op column-wise: watermark is metadata on the plan.
    """
    return df.withWatermark(ts_col, max_out_of_orderness)


def processing_time_trigger(interval: str = "1 second") -> dict:
    """Micro-batch trigger kwargs ≙ setAutoWatermarkInterval cadence (E3).
    Usage: ``df.writeStream.trigger(**processing_time_trigger("1 second"))``."""
    return {"processingTime": interval}


def enrich_with_static(stream: "DataFrame", dim: "DataFrame", on, how: str = "left") -> "DataFrame":
    """Stream-static join: enrich a streaming frame with a bounded dimension
    table — Spark's native analog of Flink's broadcast-state pattern (the
    dimension is re-read per micro-batch, so slowly-changing dims pick up
    updates between batches without restarts).

    The static side is joined fresh in every micro-batch plan; Catalyst
    broadcasts it when under the threshold — no state store involved, so
    this scales to any stream rate. Stateless row-wise enrichment only:
    aggregations after the join follow normal streaming semantics.
    """
    return stream.join(dim, on, how)


def enrich_with_dynamic(
    stream: "DataFrame",
    dim_path: str,
    on,
    sink_path: str,
    checkpoint: str,
    how: str = "left",
    trigger: dict | None = None,
):
    """Broadcast-state with UPDATES (Flink BroadcastProcessFunction): the
    dimension is re-read from ``dim_path`` inside EVERY micro-batch, so
    rule/dim changes written between batches apply to the next batch with
    no restart. `enrich_with_static` relies on Spark re-planning the
    static side, which caches file listings in some paths; the
    ``foreachBatch`` form makes the re-read EXPLICIT and guaranteed.

    Writes enriched rows to ``sink_path`` (parquet, exactly-once via the
    checkpoint). Returns the query handle. At scale: the dim is a small
    table (it is re-read per batch); Catalyst broadcasts it into the join
    each time, so the stream side never shuffles.
    """

    def _enrich(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        dim = spark.read.parquet(dim_path)
        # idempotent retry: each micro-batch owns its _batch_id partition
        # and dynamic-partition OVERWRITES it — a batch replayed after a
        # post-write/pre-commit failure rewrites the same partition instead
        # of appending duplicates (blind append would be at-least-once)
        batch_df.join(dim, on, how).withColumn(
            "_batch_id", F.lit(batch_id)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_batch_id").parquet(sink_path)

    writer = (
        stream.writeStream.foreachBatch(_enrich)
        .option("checkpointLocation", checkpoint)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
