"""Streaming layer: streaming ≡ batch equivalence (SURVEY §5 test 4), the
stateful operators (W4/TR1/TR2/J4 streaming forms), watermark late-data
drop, and generator determinism."""

import datetime

import pytest
from pyspark.sql import functions as F

from apache_flink_essentials_spark.operators import windows as W
from apache_flink_essentials_spark.sources import (
    catalog_events_batch,
    shopping_cart_events_batch,
)
from apache_flink_essentials_spark.streaming import stateful
from apache_flink_essentials_spark.streaming.replay import (
    replay_as_stream,
    run_stream_to_df,
)
from apache_flink_essentials_spark.streaming.watermark import with_event_time


def _max_epoch(events):
    return events.agg(F.max(F.col("ts").cast("long"))).collect()[0][0]


def test_streaming_tumbling_equals_batch(spark, events):
    aggs = lambda df: [  # noqa: E731
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("event_type") == "signup", True)).alias("signups"),
    ]
    batch = W.tumbling(events, "ts", "1 hour", aggs(events))
    stream_in = with_event_time(
        replay_as_stream(events, num_files=4, order_by="ts", flush_sentinel_col="ts"),
        "ts",
        "10 minutes",
    )
    streamed = run_stream_to_df(
        W.tumbling(stream_in, "ts", "1 hour", aggs(stream_in)), output_mode="append"
    )
    max_epoch = _max_epoch(events)
    b = sorted(map(tuple, batch.collect()))
    s = sorted(
        tuple(r) for r in streamed.collect() if r.window_start <= max_epoch
    )
    assert b == s


def test_streaming_session_window_equals_batch(spark, events):
    batch = W.session(
        events, "ts", "30 minutes", [F.count("*").alias("n")], keys=["user_id"]
    )
    stream_in = with_event_time(
        replay_as_stream(events, num_files=3, order_by="ts", flush_sentinel_col="ts"),
        "ts",
        "10 minutes",
    )
    streamed = run_stream_to_df(
        W.session(stream_in, "ts", "30 minutes", [F.count("*").alias("n")], keys=["user_id"]),
        output_mode="append",
    )
    max_epoch = _max_epoch(events)
    b = sorted(map(tuple, batch.collect()))
    s = sorted(
        tuple(r) for r in streamed.collect() if r.window_start <= max_epoch
    )
    assert b == s


def test_count_window_stream_fires_per_size(spark):
    carts = shopping_cart_events_batch(spark, 50)
    stream = replay_as_stream(carts, num_files=2, order_by="time")
    out = run_stream_to_df(
        stateful.count_window_stream(stream, key_col="user_id", size=3, value_col="quantity"),
        output_mode="update",
    )
    rows = out.collect()
    assert all(r.n_events == 3 for r in rows)
    per_key_total = (
        carts.groupBy("user_id").count().collect()
    )
    expected_fires = sum(c["count"] // 3 for c in per_key_total)
    assert len(rows) == expected_fires


def test_count_trigger_stream_emits_growing_counts(spark):
    carts = shopping_cart_events_batch(spark, 40)
    stream = replay_as_stream(carts, num_files=1)
    out = run_stream_to_df(
        stateful.count_trigger_stream(stream, key_col="user_id", every=2),
        output_mode="update",
    )
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r.key, []).append(r.running_count)
    for counts in by_key.values():
        assert sorted(counts) == counts and all(c % 2 == 0 for c in counts)


def test_connect_ratio_stream_final_counts(spark):
    carts = shopping_cart_events_batch(spark, 12)
    catalog = catalog_events_batch(spark, 6)
    ls = replay_as_stream(carts, num_files=1)
    rs = replay_as_stream(catalog, num_files=1)
    out = run_stream_to_df(
        stateful.connect_ratio_stream(ls, rs, "time", "time"), output_mode="update"
    )
    rows = out.collect()
    assert len(rows) == 18
    last = max(rows, key=lambda r: (r.left_count + r.right_count))
    assert (last.left_count, last.right_count) == (12, 6)


def test_watermark_drops_late_rows(spark):
    # E6 drop semantics: a row arriving after the watermark evicted its
    # window's state is discarded. Eviction happens at END of the batch where
    # the watermark passes window end, so the late row needs one intervening
    # batch (same as Flink: drop requires the window already fired+purged).
    base = datetime.datetime(2024, 1, 1)
    import glob
    import os
    import tempfile
    import time

    d = tempfile.mkdtemp(prefix="late_")
    schema = "user_id int, ts timestamp"
    files = [
        [(1, base), (1, base + datetime.timedelta(seconds=10))],   # window W0
        [(1, base + datetime.timedelta(hours=10))],                # wm → 10h
        [(1, base + datetime.timedelta(hours=11))],                # evicts W0
        [(1, base + datetime.timedelta(seconds=20))],              # too late
    ]
    for i, rows in enumerate(files, start=1):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite" if i == 1 else "append"
        ).parquet(f"{d}/f={i}")
    # pin mtimes so the file source replays f=1 → f=2 → f=3 → f=4 exactly
    now = time.time()
    for i in range(1, 5):
        for f in glob.glob(f"{d}/f={i}/*.parquet"):
            os.utime(f, (now + 30 * i, now + 30 * i))
    stream = (
        spark.readStream.schema(schema + ", f int")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = W.tumbling(
        with_event_time(stream, "ts", "1 second"),
        "ts",
        "1 minute",
        [F.count("*").alias("n")],
    )
    res = run_stream_to_df(agg, output_mode="append")
    got = {r.window_start: r.n for r in res.collect()}
    base_epoch = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
    # first-minute window closed with ONLY the 2 on-time rows; late row dropped
    assert got[base_epoch] == 2
    # the 10h window was evicted too; 11h window never closed → absent
    assert got.get(base_epoch + 36000) == 1 and len(got) == 2


def test_generators_are_deterministic(spark):
    a = shopping_cart_events_batch(spark, 30, with_removed=True).collect()
    b = shopping_cart_events_batch(spark, 30, with_removed=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    users = {r.user_id for r in a}
    assert users <= {"Bob", "Alice", "Sam", "Tom", "Diana"}
    assert {r.event_type for r in a} == {"add", "removed"}
    assert all(0 <= r.quantity < 10 for r in a)


def test_stream_stream_interval_join_equals_batch(spark):
    # J3 streaming form: the SAME interval_join expression over two
    # watermarked streams (stream-stream join with time-band condition)
    from apache_flink_essentials_spark.operators.joins import interval_join

    carts = shopping_cart_events_batch(spark, 40)
    catalog = catalog_events_batch(spark, 30)
    batch = interval_join(
        carts, catalog, "user_id", "time", "time", "-2 seconds", "2 seconds"
    )
    ls = with_event_time(
        replay_as_stream(carts, 2, "time", flush_sentinel_col="time"), "time", "2 seconds"
    )
    rs = with_event_time(
        replay_as_stream(catalog, 2, "time", flush_sentinel_col="time"), "time", "2 seconds"
    )
    streamed = run_stream_to_df(
        interval_join(ls, rs, "user_id", "time", "time", "-2 seconds", "2 seconds"),
        output_mode="append",
    )
    b = sorted((r.l_user_id, r.l_time, r.r_time) for r in batch.collect())
    s = sorted(
        (r.l_user_id, r.l_time, r.r_time)
        for r in streamed.collect()
        if r.l_time.year < 2025 and r.r_time.year < 2025  # exclude sentinels
    )
    assert b == s


def test_rate_source_generator_matches_batch_derivation(spark):
    # S4-S7: the streaming generator derives the SAME rows as the batch
    # replay for the same ids (rate-micro-batch → deterministic batches)
    import time as _time

    from apache_flink_essentials_spark.sources import shopping_cart_events_stream

    stream = shopping_cart_events_stream(
        spark, with_removed=True, micro_batch_rows=25
    )
    name = "rate_gen_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    deadline = _time.time() + 60
    while _time.time() < deadline and spark.table(name).count() < 25:
        _time.sleep(0.5)
    q.stop()
    got = {
        (r.user_id, r.sku, r.quantity, r.event_type, r.time)
        for r in spark.table(name).collect()
    }
    assert len(got) >= 25
    batch = shopping_cart_events_batch(spark, len(got), with_removed=True)
    expected = {
        (r.user_id, r.sku, r.quantity, r.event_type, r.time)
        for r in batch.limit(len(got)).collect()
    }
    assert expected <= got or got <= expected


def test_streaming_file_sink(spark, events):
    # K2: streaming file sink with checkpointing; rows written == rows read
    import tempfile

    from apache_flink_essentials_spark.io import write_stream_files

    stream = replay_as_stream(events.select("event_id", "ts", "user_id"), num_files=2)
    out, ckpt = tempfile.mkdtemp(prefix="sink_"), tempfile.mkdtemp(prefix="ckpt_")
    q = write_stream_files(stream, out, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == events.count()


def test_streaming_exact_dedup(spark):
    # duplicate cart events across micro-batches → first occurrence kept
    from apache_flink_essentials_spark.operators.dedup import exact_dedup_stream

    carts = shopping_cart_events_batch(spark, 30).withColumn(
        "text", F.concat_ws(" ", "user_id", "sku")
    )
    doubled = carts.unionByName(carts)  # every doc twice
    stream = replay_as_stream(doubled, num_files=2, order_by="time")
    out = run_stream_to_df(
        exact_dedup_stream(stream, ts_col="time", watermark_delay="1 hour"),
        output_mode="append",
    )
    fingerprints = [r.fingerprint for r in out.collect()]
    assert len(fingerprints) == len(set(fingerprints))
    distinct_texts = carts.select("text").distinct().count()
    assert len(fingerprints) == distinct_texts


def test_foreach_batch_sink(spark, events):
    import tempfile

    from apache_flink_essentials_spark.io import write_stream_foreach_batch

    stream = replay_as_stream(events.select("event_id"), num_files=2)
    seen = []
    q = write_stream_foreach_batch(
        stream,
        lambda bdf, bid: seen.append((bid, bdf.count())),
        checkpoint=tempfile.mkdtemp(prefix="fb_ckpt_"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == events.count()
    assert len(seen) >= 2  # one call per micro-batch


def test_chained_windowed_aggregation_stream_equals_batch(spark, events):
    # window-on-window (hourly count → daily max of hourly counts): the
    # streaming output-watermark chain (Spark 3.4+ window_time) matches batch
    hourly = events.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n"))
    daily = hourly.groupBy(F.window(F.window_time("window"), "1 day")).agg(
        F.max("n").alias("max_hourly")
    )
    want = {(r["window"].start, r.max_hourly) for r in daily.collect()}
    s = with_event_time(
        replay_as_stream(events, 3, "ts", flush_sentinel_col="ts"), "ts", "10 minutes"
    )
    sh = s.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n"))
    sd = sh.groupBy(F.window(F.window_time("window"), "1 day")).agg(
        F.max("n").alias("max_hourly")
    )
    got = {
        (r["window"].start, r.max_hourly)
        for r in run_stream_to_df(sd, output_mode="append").collect()
    }
    assert got == want


def test_stream_stream_window_join_equals_batch(spark):
    # J2 streaming form: window column on both sides + equi-join under
    # watermarks (the reference's processing-time window join, run on
    # deterministic event time)
    from apache_flink_essentials_spark.operators.joins import window_join

    carts = shopping_cart_events_batch(spark, 40)
    catalog = catalog_events_batch(spark, 30)
    batch = window_join(
        carts, catalog, "user_id", "time", "time", "5 seconds", keep_event_times=False
    )
    ls = with_event_time(
        replay_as_stream(carts, 2, "time", flush_sentinel_col="time"), "time", "2 seconds"
    )
    rs = with_event_time(
        replay_as_stream(catalog, 2, "time", flush_sentinel_col="time"), "time", "2 seconds"
    )
    streamed = run_stream_to_df(
        window_join(
            ls, rs, "user_id", "time", "time", "5 seconds", keep_event_times=False
        ),
        output_mode="append",
    )
    max_epoch = carts.agg(F.max(F.col("time").cast("long"))).collect()[0][0]
    b = sorted((r.user_id, r.window_start, r.l_sku, r.r_product_id) for r in batch.collect())
    s = sorted(
        (r.user_id, r.window_start, r.l_sku, r.r_product_id)
        for r in streamed.collect()
        if r.window_start <= max_epoch
    )
    assert b == s


def test_checkpoint_restart_exactly_once(spark, events):
    # stop a file-sink query, append more input, restart from the SAME
    # checkpoint: every input row lands exactly once (no dupes, no loss)
    import glob
    import os
    import tempfile
    import time

    from apache_flink_essentials_spark.io import write_stream_files

    src = tempfile.mkdtemp(prefix="eo_src_")
    out = tempfile.mkdtemp(prefix="eo_out_")
    ckpt = tempfile.mkdtemp(prefix="eo_ckpt_")
    first = events.filter(F.col("event_id") < 500).select("event_id")
    second = events.filter(F.col("event_id") >= 500).select("event_id")
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("event_id long").parquet(src)
        q = write_stream_files(stream, out, ckpt, trigger={"availableNow": True})
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()
    second.coalesce(1).write.mode("append").parquet(src)
    # ensure distinct mtime so the restarted query sees the new file
    now = time.time()
    for f in glob.glob(f"{src}/*.parquet"):
        os.utime(f, (now, now))
    run_once()  # restart from same checkpoint
    result = spark.read.parquet(out)
    assert result.count() == events.count()           # no loss, no dupes
    assert result.select("event_id").distinct().count() == events.count()


def test_changelog_stream_final_state_equals_batch(spark, events):
    """Replaying the events changelog through the stateful streaming operator
    and keeping each key's highest-sequence emission must reproduce the batch
    apply_changelog snapshot (alive keys), with deletes as tombstones."""
    from apache_flink_essentials_spark.operators import cdc as C

    changes = events.limit(2000).select(
        "user_id",
        F.col("ts").cast("long").alias("ts_s"),
        F.col("event_id").alias("eid"),
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    stream = replay_as_stream(changes, num_files=4, order_by="ts_s")
    out = run_stream_to_df(
        stateful.changelog_stream(
            stream, "user_id", ("ts_s", "eid"), "value"
        ),
        output_mode="update",
    )
    # final state per key = the emission with the highest (seq1, seq2)
    rows = out.collect()
    final = {}
    for r in rows:
        cur = final.get(r.key)
        if cur is None or (r.seq1, r.seq2) > (cur.seq1, cur.seq2):
            final[r.key] = r
    stream_alive = {
        (int(r.key), r.seq1, r.seq2, r.value)
        for r in final.values()
        if not r.is_deleted
    }
    batch = {
        (r.user_id, r.ts_s, r.eid, r.value)
        for r in C.apply_changelog(changes, ["user_id"], ["ts_s", "eid"]).collect()
    }
    assert stream_alive == batch
    # tombstoned keys = keys whose batch-latest op is a delete
    dead_keys = {int(r.key) for r in final.values() if r.is_deleted}
    all_keys = {r[0] for r in changes.select("user_id").distinct().collect()}
    assert dead_keys == all_keys - {k for k, *_ in batch}


def test_capped_session_stream_equals_batch_closed_sessions(spark):
    # two keys, gap 60, duration cap 100, count cap 3; a far-future lone
    # sentinel event per key forces every real session closed in the stream
    rows = []
    for k in ("a", "b"):
        base = 1000 if k == "a" else 5000
        # session 1: 5 events 20s apart (count cap splits at 3)
        rows += [(k, base + i * 20) for i in range(5)]
        # gap break, session 2: 3 events spanning > duration cap
        rows += [(k, base + 300), (k, base + 360), (k, base + 410)]
        # sentinel lone event far in the future (its own open session)
        rows.append((k, base + 100000))
    df = spark.createDataFrame(rows, "k string, ts long")

    batch = W.session_capped(
        df.withColumn("event_id", F.col("ts")),
        "k", "ts", 60, "event_id",
        max_duration_seconds=100, max_events=3,
    )
    sentinel_starts = {101000, 105000}
    expect = {
        (r.k, r.session_start, r.session_end, r.n_events)
        for r in batch.collect()
        if r.session_start not in sentinel_starts
    }

    stream = replay_as_stream(df, num_files=3, order_by="ts")
    out = run_stream_to_df(
        stateful.capped_session_stream(stream, "k", "ts", 60,
                                       max_duration_seconds=100, max_events=3),
        output_mode="append",
    )
    got = {
        (r.key, r.session_start, r.session_end, r.n_events)
        for r in out.collect()
    }
    assert got == expect


def test_stream_static_enrichment_equals_batch(spark):
    from apache_flink_essentials_spark.streaming.watermark import enrich_with_static

    carts = shopping_cart_events_batch(spark, 40)
    dim = spark.createDataFrame(
        [(f"user{i}", f"tier{i % 3}") for i in range(20)],
        "user_id string, tier string",
    )
    batch = {
        (r.user_id, r.sku, r.tier)
        for r in carts.join(dim, "user_id", "left").collect()
    }
    stream = replay_as_stream(carts, num_files=3, order_by="time")
    out = run_stream_to_df(enrich_with_static(stream, dim, "user_id"))
    got = {(r.user_id, r.sku, r.tier) for r in out.collect()}
    assert got == batch


def test_reorder_buffer_releases_in_order_and_drops_late(spark):
    # out-of-order arrivals within each micro-batch file; delay 20s
    rows = [
        ("a", 30, "p30"), ("a", 10, "p10"), ("a", 50, "p50"),   # file-ish 1
        ("a", 40, "p40"), ("a", 90, "p90"),                     # file-ish 2
        ("a", 5, "late"),                                       # beyond buffer
        ("a", 200, "p200"),                                     # flushes rest
    ]
    df = spark.createDataFrame(rows, "k string, ts long, payload string")
    # deterministic file split: 3 files by row position via explicit ids
    stream = replay_as_stream(df.withColumn("ord", F.monotonically_increasing_id()),
                              num_files=3, order_by="ord").drop("ord")
    out = run_stream_to_df(
        stateful.reorder_buffer_stream(stream, "k", "ts", 20, "payload"),
    )
    got = [(r.ts, r.payload) for r in sorted(out.collect(), key=lambda r: r.ts)]
    # released rows are exactly those <= max_ts - 20 at some batch, in order,
    # with the too-late row dropped and the tail (p200) still buffered
    assert [p for _, p in got] == ["p10", "p30", "p40", "p50", "p90"]


def test_reorder_then_sessions_two_query_composition(spark):
    # Spark forbids two applyInPandasWithState ops in ONE query (pinned
    # below); the supported topology is two queries bridged by a sink —
    # here: reorder query → materialized result → session query
    rows = [("a", 30, "x"), ("a", 10, "x"), ("a", 200, "x"),
            ("a", 250, "x"), ("a", 900, "x")]
    df = spark.createDataFrame(rows, "k string, ts long, payload string")
    scrambled = replay_as_stream(
        df.withColumn("o", F.monotonically_increasing_id()),
        num_files=2, order_by="o",
    ).drop("o")
    reordered = run_stream_to_df(
        stateful.reorder_buffer_stream(scrambled, "k", "ts", 20, "payload")
    )
    # high-water release: everything ≤ 900-20 released, in order
    assert [r.ts for r in reordered.orderBy("ts").collect()] == [10, 30, 200, 250]
    stage2 = replay_as_stream(reordered, num_files=1, order_by="ts")
    sessions = run_stream_to_df(
        stateful.capped_session_stream(stage2, "k", "ts", 60)
    )
    got = {(r.session_start, r.session_end, r.n_events) for r in sessions.collect()}
    # {10,30} closed by the gap to 200; {200,250} still open (never emitted)
    assert got == {(10, 30, 2)}

    # the single-query chain is rejected — pin the limitation
    import pytest as _pytest
    chained = stateful.capped_session_stream(
        stateful.reorder_buffer_stream(scrambled, "k", "ts", 20, "payload"),
        "k", "ts", 60,
    )
    with _pytest.raises(Exception, match="[Mm]ultiple.*applyInPandasWithState"):
        run_stream_to_df(chained, output_mode="append")


def test_strict_sequence_stream_equals_batch(spark, events):
    from apache_flink_essentials_spark.operators import patterns as PT

    pattern = ["error", "error"]
    batch = {
        (r.user_id, r.start_s, r.end_s)
        for r in PT.match_strict_sequence(
            events, "user_id", "ts", "event_type", pattern,
            within_seconds=86400, order_cols=["event_id"],
        ).select(
            F.col("user_id").cast("string").alias("user_id"),
            F.col("start_ts").cast("long").alias("start_s"),
            F.col("end_ts").cast("long").alias("end_s"),
        ).collect()
    }
    stream = replay_as_stream(
        events.select("user_id", "ts", "event_type", "event_id"),
        num_files=3, order_by="ts",
    )
    got = {
        (r.user_id, r.start_ts, r.end_ts)
        for r in run_stream_to_df(
            stateful.strict_sequence_stream(
                stream, "user_id", "ts", "event_type", pattern,
                within_seconds=86400, order_cols=["event_id"],
            ),
            output_mode="append",
        ).collect()
    }
    assert got == batch and len(batch) > 0


def test_timeout_session_stream_closes_quiet_keys_by_timer(spark):
    rows = (
        [(1, t) for t in (100, 101, 102, 103, 104)]   # key 1 then silence
        + [(2, 100), (2, 5000), (2, 9000)]            # key 2 keeps advancing
    )
    df = spark.createDataFrame(rows, "user_id long, ts long").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = run_stream_to_df(
        stateful.timeout_session_stream(
            replay_as_stream(df, num_files=8, order_by="ts"),
            "user_id", "ts", gap_seconds=60, watermark_delay="10 seconds",
        ),
        output_mode="append",
    )
    got = {(r.key, r.session_start, r.session_end, r.n_events)
           for r in out.collect()}
    # key 1's only session closes via the EVENT-TIME TIMER (no later event
    # for key 1 ever arrives); key 2's first two sessions close by gap
    assert ("1", 100, 104, 5) in got
    assert ("2", 100, 100, 1) in got and ("2", 5000, 5000, 1) in got
    # key 2's last session stays open: the watermark never passes 9000+gap
    assert not any(k == "2" and s == 9000 for k, s, _, _ in got)


def _floor_gap_sessions(rows, gap):
    """Reference session rule: floor ts to whole seconds per key, start a
    new session when the floored gap to the previous event is > gap."""
    import math

    by_key = {}
    for key, ts in rows:
        by_key.setdefault(key, []).append(math.floor(ts))
    out = set()
    for key, ts in by_key.items():
        ts.sort()
        start = prev = ts[0]
        n = 0
        for t in ts:
            if t - prev > gap:
                out.add((key, start, prev, n))
                start, n = t, 0
            prev, n = t, n + 1
        out.add((key, start, prev, n))
    return out


def _session_replay(spark, rows):
    """(key, ts seconds) rows replayed one file per row, in list order."""
    df = spark.createDataFrame(
        [(k, float(t), i) for i, (k, t) in enumerate(rows)],
        "user_id string, ts double, arrival long",
    ).withColumn("ts", F.timestamp_micros((F.col("ts") * 1e6).cast("long")))
    return replay_as_stream(df, num_files=len(rows), order_by="arrival")


def test_timeout_session_stream_matches_floor_seconds_gap_rule(spark):
    rows = [
        ("a", 0.1), ("a", 60.9),                 # floored gap 60: one session
        ("b", 0.9), ("b", 61.2),                 # floored gap 61: two sessions
        ("c", 0.5), ("c", 30.0),
        ("c", 1000.0), ("c", 1010.0), ("c", 1030.0),
        ("c", 900.7),                            # late, within the watermark
        (None, 10.0), (None, 20.0),              # NULL key
        ("-1", 100_000.0),                       # sentinel: closes every session
    ]
    out = run_stream_to_df(
        stateful.timeout_session_stream(
            _session_replay(spark, rows), "user_id", "ts",
            gap_seconds=60, watermark_delay="1 hour",
        ),
        output_mode="append",
    )
    got = {tuple(r) for r in out.collect() if r.key != "-1"}
    want = _floor_gap_sessions([r for r in rows if r[0] != "-1"], 60)
    assert got == want
    assert ("a", 0, 60, 2) in got
    assert ("b", 0, 0, 1) in got and ("b", 61, 61, 1) in got
    # the late event is segmented like batch, not folded into 1000-1030
    assert ("c", 900, 900, 1) in got and ("c", 1000, 1030, 3) in got
    # a NULL key stays SQL NULL, as the oracle's user_id::VARCHAR gives
    assert (None, 10, 20, 2) in got


def test_timeout_session_stream_plan_has_no_python_state(spark):
    # guard: the session stream runs on the native session-window state
    # store, never on a Python GroupState operator
    q = (
        stateful.timeout_session_stream(
            _session_replay(spark, [("a", 1.0), ("a", 2.0)]),
            "user_id", "ts", gap_seconds=60,
        )
        .writeStream.format("memory").queryName("session_plan_guard")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    spark.catalog.dropTempView("session_plan_guard")
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert "SessionWindowStateStoreSave" in plan


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    # a local session on file: takes the FileSystem-based checkpoint
    # manager (no forked readlink per rename); the class must resolve in
    # this Spark, and a drain must leave the same state-store files as
    # under Spark's default FileContext-based manager
    from apache_flink_essentials_spark import session

    key = session.CHECKPOINT_MANAGER_CONF
    assert spark.conf.get(key) == session.FS_CHECKPOINT_MANAGER
    spark._jvm.java.lang.Class.forName(session.FS_CHECKPOINT_MANAGER)

    def state_files(manager, name):
        spark.conf.set(key, manager)
        ck = tmp_path / name
        q = (
            stateful.timeout_session_stream(
                _session_replay(spark, [("a", 1.0), ("a", 2.0)]),
                "user_id", "ts", gap_seconds=60,
            )
            .writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", str(ck)).trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        spark.catalog.dropTempView(name)
        return {p.name for p in (ck / "state" / "0" / "0").iterdir()}

    context = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "FileContextBasedCheckpointFileManager")
    try:
        fc = state_files(context, "ck_file_context")
    finally:
        spark.conf.set(key, session.FS_CHECKPOINT_MANAGER)
    fs = state_files(session.FS_CHECKPOINT_MANAGER, "ck_file_system")
    assert fs == fc
    assert {"1.delta", "1.delta.crc", ".1.delta.crc",
            "2.delta", "2.delta.crc", ".2.delta.crc"} <= fs


def test_stateful_ewma_recovers_groupstate_across_restart(spark, events):
    # GroupState recovery: run the EWMA stream over the first time-half,
    # stop, append the second half, restart from the SAME checkpoint — the
    # final output must be BIT-equal to batch EWMA over the full input,
    # which only holds if (ewma, ewvar, n) state survived the restart.
    import glob
    import os
    import tempfile
    import time

    from apache_flink_essentials_spark.io import write_stream_files
    from apache_flink_essentials_spark.operators import timeseries as TS

    sample = events.filter(F.col("user_id") < 10).select(
        "user_id", "ts", "value"
    )
    cut = sample.agg(
        F.expr("percentile_approx(cast(ts as long), 0.5)")
    ).collect()[0][0]
    first = sample.filter(F.col("ts").cast("long") < cut)
    second = sample.filter(F.col("ts").cast("long") >= cut)

    src = tempfile.mkdtemp(prefix="ewma_src_")
    out = tempfile.mkdtemp(prefix="ewma_out_")
    ckpt = tempfile.mkdtemp(prefix="ewma_ckpt_")
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src)
        q = write_stream_files(
            stateful.ewma_anomaly_stream(stream, "user_id", "ts", "value"),
            out, ckpt, trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run_once()
    second.coalesce(1).write.mode("append").parquet(src)
    now = time.time()
    for f in glob.glob(f"{src}/*.parquet"):
        os.utime(f, (now, now))
    run_once()

    got = {
        (r.user_id, r.ts_s): (r.value, r.ewma, r.is_anomaly)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.user_id, r.ts_s): (r.value, r.ewma, r.is_anomaly)
        for r in TS.ewma_anomaly(sample, "user_id", "ts", "value").collect()
    }
    assert got == batch and len(batch) > 0


def test_dynamic_enrichment_picks_up_dim_updates_between_runs(spark, events):
    # Flink broadcast-state update analog: the dim parquet is OVERWRITTEN
    # between two checkpointed availableNow runs; rows processed after the
    # update must join against the NEW dim version, earlier rows keep the
    # old enrichment (recorded in the sink, exactly-once via checkpoint).
    import glob
    import os
    import tempfile
    import time

    from apache_flink_essentials_spark.streaming.watermark import (
        enrich_with_dynamic,
    )

    src = tempfile.mkdtemp(prefix="dyn_src_")
    dim_path = tempfile.mkdtemp(prefix="dyn_dim_")
    out = tempfile.mkdtemp(prefix="dyn_out_")
    ckpt = tempfile.mkdtemp(prefix="dyn_ckpt_")

    sample = events.filter(F.col("user_id") < 5).select("event_id", "user_id")
    first = sample.filter(F.col("event_id") % 2 == 0)
    second = sample.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(i, "v1") for i in range(5)], "user_id long, tier string"
    ).write.mode("overwrite").parquet(dim_path)

    def run_once():
        stream = spark.readStream.schema("event_id long, user_id long").parquet(src)
        q = enrich_with_dynamic(
            stream, dim_path, "user_id", out, ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(
        [(i, "v2") for i in range(5)], "user_id long, tier string"
    ).write.mode("overwrite").parquet(dim_path)
    second.coalesce(1).write.mode("append").parquet(src)
    now = time.time()
    for f in glob.glob(f"{src}/*.parquet"):
        os.utime(f, (now, now))
    run_once()

    rows = spark.read.parquet(out).collect()
    tiers = {r.event_id: r.tier for r in rows}
    assert len(rows) == sample.count()                      # exactly once
    assert all(t == "v1" for e, t in tiers.items() if e % 2 == 0)
    assert all(t == "v2" for e, t in tiers.items() if e % 2 == 1)


def test_stream_stream_left_outer_interval_join_equals_batch(spark):
    # outer variant: unmatched left rows emit with null right columns once
    # the watermark passes the band (Flink interval-join cleanup-timer
    # analog); sentinel rows push the watermark past every real band
    from apache_flink_essentials_spark.operators.joins import interval_join

    carts = shopping_cart_events_batch(spark, 40)
    catalog = catalog_events_batch(spark, 30)
    batch = interval_join(
        carts, catalog, "user_id", "time", "time",
        "-2 seconds", "2 seconds", how="left_outer",
    )
    ls = with_event_time(
        replay_as_stream(carts, 2, "time", flush_sentinel_col="time"),
        "time", "2 seconds",
    )
    rs = with_event_time(
        replay_as_stream(catalog, 2, "time", flush_sentinel_col="time"),
        "time", "2 seconds",
    )
    streamed = run_stream_to_df(
        interval_join(ls, rs, "user_id", "time", "time",
                      "-2 seconds", "2 seconds", how="left_outer"),
        output_mode="append",
    )
    b = sorted((r.l_user_id, r.l_time, r.r_time) for r in batch.collect())
    s = sorted(
        (r.l_user_id, r.l_time, r.r_time)
        for r in streamed.collect()
        if r.l_time.year < 2025
        and (r.r_time is None or r.r_time.year < 2025)
    )
    assert b == s
    assert any(rt is None for _, _, rt in b)   # outer rows exist


def test_left_outer_interval_join_state_survives_restart(spark):
    # J3 durability: buffered outer-join state (left rows still waiting
    # for the watermark to pass their band) must survive a checkpointed
    # stop/restart — the streaming analog of Flink's interval-join state
    # snapshot. The final sink equals the batch left-outer join over the
    # full input, which only holds if rows buffered before the restart
    # were restored from the checkpoint.
    import glob
    import os
    import tempfile
    import time

    from apache_flink_essentials_spark.io import write_stream_files
    from apache_flink_essentials_spark.operators.joins import interval_join

    carts = shopping_cart_events_batch(spark, 40)
    catalog = catalog_events_batch(spark, 30)
    batch = interval_join(
        carts, catalog, "user_id", "time", "time",
        "-2 seconds", "2 seconds", how="left_outer",
    )

    cut = carts.agg(
        F.expr("percentile_approx(cast(time as long), 0.5)")
    ).collect()[0][0]
    lsrc = tempfile.mkdtemp(prefix="ioj_l_")
    rsrc = tempfile.mkdtemp(prefix="ioj_r_")
    out = tempfile.mkdtemp(prefix="ioj_out_")
    ckpt = tempfile.mkdtemp(prefix="ioj_ckpt_")
    carts.filter(F.col("time").cast("long") < cut).coalesce(1).write.mode(
        "append"
    ).parquet(lsrc)
    catalog.filter(F.col("time").cast("long") < cut).coalesce(1).write.mode(
        "append"
    ).parquet(rsrc)

    def run_once():
        ls = with_event_time(
            spark.readStream.schema(carts.schema).parquet(lsrc),
            "time", "2 seconds",
        )
        rs = with_event_time(
            spark.readStream.schema(catalog.schema).parquet(rsrc),
            "time", "2 seconds",
        )
        q = write_stream_files(
            interval_join(ls, rs, "user_id", "time", "time",
                          "-2 seconds", "2 seconds", how="left_outer"),
            out, ckpt, trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run_once()
    # second halves + far-future sentinels that push both watermarks past
    # every real band so all buffered outer rows flush
    sentinel_t = F.expr("timestamp'2030-01-01 00:00:00'")
    carts.filter(F.col("time").cast("long") >= cut).unionByName(
        carts.limit(1).withColumn("time", sentinel_t)
        .withColumn("user_id", F.lit("sentinel"))
    ).coalesce(1).write.mode("append").parquet(lsrc)
    catalog.filter(F.col("time").cast("long") >= cut).unionByName(
        catalog.limit(1).withColumn("time", sentinel_t)
        .withColumn("user_id", F.lit("sentinel"))
    ).coalesce(1).write.mode("append").parquet(rsrc)
    now = time.time()
    for d in (lsrc, rsrc):
        for f in glob.glob(f"{d}/*.parquet"):
            os.utime(f, (now, now))
    run_once()  # restart from the SAME checkpoint

    got = sorted(
        (r.l_user_id, r.l_time, r.r_time)
        for r in spark.read.parquet(out).collect()
        if r.l_time.year < 2025
        and (r.r_time is None or r.r_time.year < 2025)
    )
    want = sorted((r.l_user_id, r.l_time, r.r_time) for r in batch.collect())
    assert got == want
    assert any(rt is None for _, _, rt in want)  # outer rows exist
    # pre-restart rows are present: their state crossed the restart
    assert any(lt.timestamp() < cut for _, lt, _ in got)


def test_last_touch_attribution_stream_equals_batch(spark, events):
    from apache_flink_essentials_spark.operators import patterns as PT

    batch = {
        (r.user_id, r.target_id, r.target_ts_s,
         r.attributed_type, r.attributed_id, r.gap_seconds)
        for r in PT.last_touch_attribution(
            events, "user_id", "ts", "event_type", "event_id",
            target="purchase", within_seconds=3600,
        ).select(
            F.col("user_id").cast("string").alias("user_id"),
            "target_id", "target_ts_s",
            "attributed_type", "attributed_id", "gap_seconds",
        ).collect()
    }
    stream = replay_as_stream(
        events.select("user_id", "ts", "event_type", "event_id"),
        num_files=3, order_by="ts",
    )
    got = {
        (r.user_id, r.target_id, r.target_ts_s,
         r.attributed_type, r.attributed_id, r.gap_seconds)
        for r in run_stream_to_df(
            stateful.last_touch_attribution_stream(
                stream, "user_id", "ts", "event_type", "event_id",
                target="purchase", within_seconds=3600,
            ),
            output_mode="append",
        ).collect()
    }
    assert got == batch and len(batch) > 0
    assert any(t is not None for _, _, _, t, _, _ in batch)


def test_streaming_paragraph_dedup_matches_batch_kept_set(spark):
    # documents sharing a boilerplate paragraph, replayed in doc order:
    # the streaming first-occurrence set equals the batch kept=true set
    from apache_flink_essentials_spark.operators.dedup import (
        paragraph_dedup,
        paragraph_dedup_stream,
    )

    rows = [
        (1, "alpha beta\n\ncommon boilerplate\n\ngamma"),
        (2, "common boilerplate\n\ndelta"),
        (3, "common boilerplate\n\ngamma"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "time", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
    )
    stream = replay_as_stream(docs, num_files=3, order_by="doc_id")
    out = run_stream_to_df(
        paragraph_dedup_stream(stream, ts_col="time"), output_mode="append"
    )
    streamed = {r.paragraph for r in out.collect()}
    batch_kept = {
        r.paragraph for r in paragraph_dedup(docs).collect() if r.kept
    }
    assert streamed == batch_kept
    # every distinct paragraph exactly once
    assert len(out.collect()) == len(batch_kept)


def test_dataset_card_stream_equals_batch(spark):
    # complete-mode stratum aggregate over a replayed document stream ==
    # the batch dataset_card, bit-for-bit: every maintained aggregate is
    # an associative integer sum, so arrival order cannot matter
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.curation import (
        dataset_card,
        dataset_card_counts,
        dataset_card_from_counts,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(docs, num_files=3, order_by="doc_id")
    agg = run_stream_to_df(
        dataset_card_counts(stream_in), output_mode="complete"
    )
    streamed = dataset_card_from_counts(agg)
    batch = dataset_card(docs)
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) > 0


def test_perplexity_buckets_over_token_ingest_equals_batch(spark):
    # ingest half: stateless tokenize stream materializes (doc, token)
    # rows; report half: unigram scores + buckets over the materialized
    # relation == the one-shot batch path (exact integer micro-log sums)
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.curation import (
        perplexity_buckets,
    )
    from apache_flink_essentials_spark.operators.text import (
        unigram_logprob,
        unigram_logprob_from_tokens,
    )
    from apache_flink_essentials_spark.streaming.rollup import (
        tokenize_ingest_stream,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(docs, num_files=3, order_by="doc_id")
    toks = run_stream_to_df(
        tokenize_ingest_stream(stream_in), output_mode="append"
    )
    streamed = perplexity_buckets(
        unigram_logprob_from_tokens(toks, small=True)
    )
    batch = perplexity_buckets(unigram_logprob(docs))
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) > 0


def test_bpe_pair_counts_stream_equals_batch(spark):
    # complete-mode pair-count aggregate over a replayed document stream
    # == the batch bpe_pair_stats, bit-for-bit: bounded alphabet²-ish
    # state, associative integer counts, rank derived on read
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.text import (
        bpe_pair_stats,
        char_pair_counts,
        finish_bpe_pair_stats,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(docs, num_files=3, order_by="doc_id")
    agg = run_stream_to_df(
        char_pair_counts(stream_in), output_mode="complete"
    )
    streamed = finish_bpe_pair_stats(agg, k=20)
    batch = bpe_pair_stats(docs, k=20)
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) == 20


def test_quantile_histogram_stream_equals_batch(spark):
    # complete-mode bucket-count aggregate over a replayed event stream,
    # with FIXED configured bounds (how a production rollup sizes the
    # sketch), == the batch partials resolved through the same
    # quantiles_from_histogram — bit-for-bit: counts are associative
    # integers and the bucket id is deterministic fixed-order IEEE math
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.sketches import (
        portable_quantile_bands,
        quantile_histogram_partials,
        quantiles_from_histogram,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    row = events.agg(
        F.min("value").alias("_vmin"),
        F.max("value").alias("_vmax"),
        F.count(F.lit(1)).alias("_n"),
    ).collect()[0]
    stats = events.sparkSession.createDataFrame(
        [(row._vmin, row._vmax, row._n)], "_vmin double, _vmax double, _n long"
    )
    stream_in = replay_as_stream(events, num_files=3, order_by="event_id")
    agg = run_stream_to_df(
        quantile_histogram_partials(
            stream_in, "value", row._vmin, row._vmax, n_buckets=64
        ),
        output_mode="complete",
    )
    streamed = quantiles_from_histogram(agg, stats, 64).collect()
    batch = portable_quantile_bands(events, "value", n_buckets=64).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    assert len(streamed) == 3


def test_hash_classifier_stream_equals_batch(spark):
    # stateless scan-stage fold → append-mode streaming is the identical
    # plan per micro-batch; the quality-filter-on-ingest shape
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.text import (
        hash_classifier_score,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(docs, num_files=3, order_by="doc_id")
    streamed = run_stream_to_df(
        hash_classifier_score(stream_in), output_mode="append"
    )
    b = sorted(map(tuple, hash_classifier_score(docs).collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) == 500


def test_vocab_coverage_stream_equals_batch(spark):
    # complete-mode token-type counts over a replayed stream + the shared
    # coverage tail == the one-shot batch curve, bit-for-bit (counts are
    # associative integers; the state is the vocabulary, not the corpus)
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.text import (
        coverage_from_counts,
        token_counts,
        vocab_coverage,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(docs, num_files=3, order_by="doc_id")
    counts = run_stream_to_df(
        token_counts(stream_in), output_mode="complete"
    )
    streamed = coverage_from_counts(counts).collect()
    batch = vocab_coverage(docs).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    assert len(streamed) == 4


def test_grouped_quantile_histogram_stream_equals_batch(spark):
    # per-key complete-mode (key, bucket) counts with fixed per-key bounds
    # == batch grouped histogram partials: the per-group rollup twin
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.sketches import (
        quantile_histogram_partials,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    bounds = {
        r.event_type: (r.vmin, r.vmax)
        for r in events.groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        .collect()
    }
    t = sorted(bounds)[0]
    vmin, vmax = bounds[t]
    stream_in = replay_as_stream(
        events.filter(F.col("event_type") == t), num_files=3, order_by="event_id"
    )
    agg = run_stream_to_df(
        quantile_histogram_partials(stream_in, "value", vmin, vmax, 32),
        output_mode="complete",
    )
    batch = quantile_histogram_partials(
        events.filter(F.col("event_type") == t), "value", vmin, vmax, 32
    )
    assert sorted(map(tuple, agg.collect())) == sorted(
        map(tuple, batch.collect())
    )
