"""Round-11 stream state: HLL registers, referential-integrity counts,
edge-set graph state, freshness second-counts, online KNN top-k. Each test
replays a bounded fixture through the operator on a stream and asserts the
drained state / final emission equals the batch result exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE


def _load(spark, name):
    from apache_flink_essentials_spark.io import load_table

    return load_table(spark, name, SF_SMOKE)


def test_hll_registers_stream_equals_batch_partials(spark):
    from apache_flink_essentials_spark.operators.sketches import (
        portable_hll_merge,
        portable_hll_partials,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        assert_stream_equals_batch,
        replay_as_stream,
        run_stream_to_df,
    )

    events = _load(spark, "events")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    state = run_stream_to_df(
        portable_hll_partials(stream_in, "user_id", p=6),
        output_mode="complete",
    )
    batch = portable_hll_partials(events, "user_id", p=6)
    assert_stream_equals_batch(batch, state)
    # and the resolved estimates agree bit-for-bit
    se = portable_hll_merge(state, p=6).collect()[0]
    be = portable_hll_merge(batch, p=6).collect()[0]
    assert se.hll_distinct == be.hll_distinct


def test_hll_registers_stream_duplicate_delivery_safe(spark):
    """max-register idempotence: replaying the SAME rows twice leaves the
    state unchanged (the at-least-once-source contract)."""
    from apache_flink_essentials_spark.operators.sketches import (
        portable_hll_partials,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        assert_stream_equals_batch,
        replay_as_stream,
        run_stream_to_df,
    )

    events = _load(spark, "events").limit(2000)
    doubled = events.unionAll(events)
    stream_in = replay_as_stream(doubled, num_files=2)
    state = run_stream_to_df(
        portable_hll_partials(stream_in, "user_id", p=6),
        output_mode="complete",
    )
    assert_stream_equals_batch(
        portable_hll_partials(events, "user_id", p=6), state
    )


def test_referential_counts_stream_equals_batch_audit(spark):
    from apache_flink_essentials_spark.operators.profiling import (
        referential_audit,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    orders = _load(spark, "orders")
    customer = _load(spark, "customer")
    # plant corruption: null fks and orphan fks
    fact = orders.select(
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .when(F.col("o_orderkey") % 31 == 0, F.col("o_custkey") + 10_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        "o_orderkey",
    )
    stream_in = replay_as_stream(fact, num_files=3)
    got = run_stream_to_df(
        referential_audit(
            [("orders->customer", stream_in, "o_custkey", customer,
              "c_custkey")]
        ),
        output_mode="complete",
    ).collect()[0]
    want = referential_audit(
        [("orders->customer", fact, "o_custkey", customer, "c_custkey")]
    ).collect()[0]
    assert (got.n_rows, got.n_null_fk, got.n_orphans) == (
        want.n_rows, want.n_null_fk, want.n_orphans,
    )
    assert got.relation == want.relation
    assert got.n_null_fk > 0 and got.n_orphans > 0  # corruption visible


def test_edge_set_stream_feeds_batch_graph_ops(spark):
    from apache_flink_essentials_spark.operators import graph as G
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )
    from apache_flink_essentials_spark.streaming.rollup import edge_set_stream

    # co-purchase pair stream with duplicates, reversals, self-loops
    rows = [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3), (1, 3), (4, 5)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    stream_in = replay_as_stream(df, num_files=2)
    state = run_stream_to_df(
        edge_set_stream(stream_in, "x", "y"), output_mode="complete"
    )
    edges = state.select("a", "b")
    got = sorted(map(tuple, edges.collect()))
    assert got == [(1, 2), (1, 3), (2, 3), (4, 5)]
    tri = G.triangle_stats(edges).collect()[0]
    assert tri.n_triangles == 1 and tri.n_nodes == 5
    deg = {r.node: r.degree for r in (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("degree")).collect()
    )}
    assert deg == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}


def test_freshness_stream_equals_batch_audit(spark):
    from apache_flink_essentials_spark.operators.profiling import (
        freshness_audit,
        freshness_from_ts_counts,
        freshness_ts_counts,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        assert_stream_equals_batch,
        replay_as_stream,
        run_stream_to_df,
    )

    events = _load(spark, "events")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    state = run_stream_to_df(
        freshness_ts_counts(stream_in, "ts", "event_type"),
        output_mode="complete",
    )
    streamed = freshness_from_ts_counts(state, "event_type", window_s=3600)
    batch = freshness_audit(events, "ts", "event_type", window_s=3600)
    assert_stream_equals_batch(batch, streamed)


def test_knn_topk_stream_matches_batch_bruteforce(spark):
    import numpy as np

    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )
    from apache_flink_essentials_spark.streaming.stateful import (
        knn_topk_stream,
    )

    emb = _load(spark, "embeddings").limit(400)
    rows = emb.collect()
    queries = [(0, list(rows[0].embedding)), (1, list(rows[7].embedding))]
    k = 5

    stream_in = replay_as_stream(emb, num_files=3)
    out = run_stream_to_df(
        knn_topk_stream(stream_in, queries, k=k), output_mode="update"
    )
    # final state = per-query rows of the LAST batch emission: the memory
    # sink accumulates every update; the final top-k is the k best scores
    # per query across ALL emissions (monotone improvement makes the last
    # emission the global best — dedup by (query_id, vec_id), top-k again)
    final = (
        out.groupBy("query_id", "vec_id").agg(F.max("score").alias("score"))
        .withColumn(
            "rank",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("query_id")
                .orderBy(F.desc("score"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("rank") <= k)
    )
    got = {
        (r.query_id, r.rank): r.vec_id for r in final.collect()
    }
    # numpy oracle
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    for qid, qv in queries:
        scores = mat @ np.array(qv, dtype=np.float64)
        order = sorted(zip(-scores, ids))[:k]
        for rank, (_, vid) in enumerate(order, 1):
            assert got[(qid, rank)] == vid, (qid, rank)


def test_knn_topk_stream_state_bounded_by_k(spark):
    """The last emission per query has exactly min(k, n) rows, ranked 1..k."""
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )
    from apache_flink_essentials_spark.streaming.stateful import (
        knn_topk_stream,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    out = run_stream_to_df(
        knn_topk_stream(
            replay_as_stream(df, num_files=2), [(0, [1.0, 1.0])], k=3
        ),
        output_mode="update",
    )
    # every emission is <= k rows per query
    per_emit = out.groupBy("query_id", "rank").count().collect()
    assert all(r["rank"] <= 3 for r in per_emit)


def test_knn_topk_stream_state_survives_restart(spark):
    """GroupState recovery for the online KNN: first half of the corpus,
    stop, append the second half, restart from the SAME checkpoint — the
    last emission per query must equal numpy brute-force top-k over the
    FULL corpus, which only holds if the per-query top-k state survived."""
    import glob as _glob
    import os
    import tempfile
    import time

    import numpy as np

    from apache_flink_essentials_spark.io import write_stream_files
    from apache_flink_essentials_spark.streaming.stateful import (
        knn_topk_stream,
    )

    emb = _load(spark, "embeddings").limit(300)
    rows = emb.collect()
    queries = [(0, list(rows[3].embedding))]
    k = 4
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)

    src = tempfile.mkdtemp(prefix="knn_src_")
    out = tempfile.mkdtemp(prefix="knn_out_")
    ckpt = tempfile.mkdtemp(prefix="knn_ckpt_")
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(emb.schema).parquet(src)
        q = write_stream_files(
            knn_topk_stream(stream, queries, k=k, output_mode="append"),
            out, ckpt, trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run_once()
    second.coalesce(1).write.mode("append").parquet(src)
    now = time.time()
    for f in _glob.glob(f"{src}/*.parquet"):
        os.utime(f, (now, now))
    run_once()

    sink = spark.read.parquet(out)
    final = (
        sink.groupBy("query_id", "vec_id").agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .collect()
    )
    got = [r.vec_id for r in final]
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    scores = mat @ np.array(queries[0][1], dtype=np.float64)
    want = [int(v) for _, v in sorted(zip(-scores, ids))[:k]]
    assert got == want
