"""Continuous rollup (hypertable-style continuous aggregate): the
materialization emits exactly the finalized windows, and the serving view
(materialized ∪ raw tail) is indistinguishable from a full batch
aggregation — at any ingest lag."""

import tempfile

from pyspark.sql import functions as F

from apache_flink_essentials_spark.streaming.replay import (
    replay_as_stream,
)
from apache_flink_essentials_spark.streaming.rollup import (
    _windowed_agg,
    continuous_rollup,
    realtime_aggregate,
)


def _aggs():
    return [
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    ]


def _key(rows, max_start=None):
    return sorted(
        tuple(r) for r in rows if max_start is None or r.window_start <= max_start
    )


def test_continuous_rollup_materializes_finalized_windows(spark, events):
    out = tempfile.mkdtemp(prefix="rollup_")
    ckpt = tempfile.mkdtemp(prefix="rollup_ckpt_")
    stream = replay_as_stream(events, num_files=4, order_by="ts", flush_sentinel_col="ts")
    q = continuous_rollup(
        stream,
        "ts",
        "6 hours",
        _aggs(),
        out,
        ckpt,
        watermark_delay="10 minutes",
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)
    assert not q.isActive

    batch = _windowed_agg(events, "ts", "6 hours", _aggs())
    max_ts = events.agg(F.max("ts")).first()[0]
    # partition columns come back last on read — realign to batch order
    materialized = spark.read.parquet(out).select(*batch.columns)
    # sentinel window (a year ahead) excluded; every real window finalized
    assert _key(materialized.collect(), max_ts) == _key(batch.collect())


def test_realtime_aggregate_merges_tail_exactly(spark, events):
    # simulate ingest lag: only windows ending before mid-month are
    # materialized; the serving view must still equal the full batch answer
    out = tempfile.mkdtemp(prefix="rollup_lag_")
    cutoff = "2024-01-15 00:00:00"
    full = _windowed_agg(events, "ts", "6 hours", _aggs())
    full.filter(F.col("window_end") <= F.lit(cutoff).cast("timestamp")).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(out)

    merged = realtime_aggregate(spark, out, events, "ts", "6 hours", _aggs())
    assert _key(merged.collect()) == _key(full.collect())


def test_realtime_aggregate_without_rollup_is_batch(spark, events):
    merged = realtime_aggregate(
        spark, "/nonexistent/rollup/path", events, "ts", "6 hours", _aggs()
    )
    batch = _windowed_agg(events, "ts", "6 hours", _aggs())
    assert _key(merged.collect()) == _key(batch.collect())


def test_dotted_alias_round_trips(spark, events):
    # aggregate names come from the aggregated frame's schema, so an
    # alias with a dot or an " AS " inside survives the flat select, the
    # parquet rollup and the serving union
    aggs = [
        F.count("*").alias("n.all"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x AS y"),
    ]
    full = _windowed_agg(events, "ts", "6 hours", aggs)
    assert full.columns == [
        "window_start", "window_end", "day", "n.all", "x AS y",
    ]
    out = tempfile.mkdtemp(prefix="rollup_dot_")
    cutoff = "2024-01-15 00:00:00"
    full.filter(F.col("window_end") <= F.lit(cutoff).cast("timestamp")).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(out)

    merged = realtime_aggregate(spark, out, events, "ts", "6 hours", aggs)
    assert merged.columns == full.columns
    assert _key(merged.collect()) == _key(full.collect())
