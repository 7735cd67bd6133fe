"""Ingest-monitoring workbench (round-11 stream state, end to end):
the always-on data-quality reads a 100 TB ingest pipeline keeps warm —
each maintained as a tiny ASSOCIATIVE state relation at ingest (stream ≡
batch bit-for-bit, see tests/test_streaming_round11.py) with the
non-associative report derived on read. The batch operators run
unchanged on the stream:

  * referential integrity   — orphan/null-FK counts vs a dimension
    (`profiling.referential_audit`, 1-row state per relation)
  * source freshness        — lag + trailing-window volume ratio per
    source (`profiling.freshness_ts_counts` → `freshness_from_ts_counts`)
  * distinct-user cardinality — portable-HLL registers
    (`sketches.portable_hll_partials`, ≤2^p rows, duplicate-delivery
    idempotent)
  * co-occurrence graph     — canonical edge-set state feeding the batch
    degree/triangle reads (`edge_set_stream`)
  * online retrieval eval   — top-k neighbors of a fixed query set over
    the embedding ingest (`knn_topk_stream`, k-bounded GroupState)

This example drives each through the bounded file-replay harness so it
runs in CI; in production the same operators run on a Kafka source with a
real checkpoint dir.

    python -m examples.ingest_monitoring [sf_dir]
"""

import sys

from pyspark.sql import functions as F

from apache_flink_essentials_spark import get_spark, load_table
from apache_flink_essentials_spark.operators import graph as G
from apache_flink_essentials_spark.operators.profiling import (
    freshness_from_ts_counts,
    freshness_ts_counts,
    referential_audit,
)
from apache_flink_essentials_spark.operators.sketches import (
    portable_hll_merge,
    portable_hll_partials,
)
from apache_flink_essentials_spark.streaming.replay import (
    replay_as_stream,
    run_stream_to_df,
)
from apache_flink_essentials_spark.streaming.rollup import edge_set_stream
from apache_flink_essentials_spark.streaming.stateful import knn_topk_stream


def run(spark=None, sf_dir="/root/testdata/sf0.001"):
    spark = spark or get_spark("example-ingest-monitoring")
    events = load_table(spark, "events", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    embeddings = load_table(spark, "embeddings", sf_dir)

    print("Referential integrity, maintained at ingest (orders→customer):")
    run_stream_to_df(
        referential_audit([(
            "orders->customer", replay_as_stream(orders, num_files=3),
            "o_custkey", customer, "c_custkey",
        )]),
        output_mode="complete",
    ).show()

    print("Source freshness (per event_type, 1h trailing window):")
    state = run_stream_to_df(
        freshness_ts_counts(
            replay_as_stream(events, num_files=3, order_by="ts"),
            "ts", "event_type",
        ),
        output_mode="complete",
    )
    freshness = freshness_from_ts_counts(state, "event_type", window_s=3600)
    freshness.show()

    print("Distinct users via streamed portable-HLL registers:")
    regs = run_stream_to_df(
        portable_hll_partials(
            replay_as_stream(events, num_files=3), "user_id", p=8
        ),
        output_mode="complete",
    )
    portable_hll_merge(regs, p=8).select("hll_distinct").show()

    print("Co-purchase graph state → triangle census on read:")
    pairs = G.cooccurrence_edges(
        lineitem.limit(5000), "l_orderkey", "l_partkey"
    )
    edge_state = run_stream_to_df(
        edge_set_stream(replay_as_stream(pairs, num_files=2), "a", "b"),
        output_mode="complete",
    )
    G.triangle_stats(edge_state.select("a", "b")).show()

    print("Online KNN: top-3 neighbors of one query over the vector ingest:")
    q = embeddings.limit(1).collect()[0]
    out = run_stream_to_df(
        knn_topk_stream(
            replay_as_stream(embeddings.limit(500), num_files=2),
            [(0, list(q.embedding))], k=3,
        ),
        output_mode="update",
    )
    (
        out.groupBy("query_id", "vec_id").agg(F.max("score").alias("score"))
        .orderBy(F.desc("score")).limit(3).show()
    )
    return freshness


if __name__ == "__main__":
    run(sf_dir=sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
