"""§2.2 transforms: closed-form checks from the reference's worked examples
(DataStreams.scala fizzbuzz, Transformations.scala) + physical-plan
assertions (the scale contract: no stray shuffles, filters pushed down)."""

from pyspark.sql import functions as F

from apache_flink_essentials_spark.io import from_sequence, load_table
from apache_flink_essentials_spark.operators import transform as T
from apache_flink_essentials_spark.plans import (
    count_exchanges,
    has_pushed_filters,
    scan_read_schema,
)
from tests.conftest import SF_SMOKE


def test_fizzbuzz_closed_form(spark):
    # DataStreams.scala:24-33: multiples of 15 in 1..100
    out = T.fizzbuzz_pipeline(from_sequence(spark, 1, 100))
    assert sorted(r.n for r in out.collect()) == [15, 30, 45, 60, 75, 90]


def test_fizzbuzz_no_shuffle(spark):
    # map→filter→map chain must fuse into a single shuffle-free stage
    out = T.fizzbuzz_pipeline(from_sequence(spark, 1, 100))
    assert count_exchanges(out) == 0


def test_flatmap_range_semantics(spark):
    # flatMap(n => Range(1, n)): n=1 contributes nothing (descending-sequence guard)
    out = T.flat_map_range(from_sequence(spark, 1, 4))
    rows = sorted((r.n, r.m) for r in out.collect())
    assert rows == [(2, 1), (3, 1), (3, 2), (4, 1), (4, 2), (4, 3)]


def test_filter_pushdown_reaches_scan(spark, events):
    out = T.filter_event_type(events, "signup").select("event_id")
    assert has_pushed_filters(out)


def test_column_pruning(spark):
    # 2-column projection must not read all 11 lineitem columns
    li = load_table(spark, "lineitem", SF_SMOKE).select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(li)
    assert schemas and all("l_extendedprice" not in s for s in schemas)


def test_keyby_reduce_parity(spark):
    out = T.key_by_reduce(
        from_sequence(spark, 1, 100),
        key=(F.col("n") % 2 == 0),
        value=F.sum("n"),
        key_alias="is_even",
        agg_alias="total",
    )
    res = {r.is_even: r.total for r in out.collect()}
    assert res == {True: 2550, False: 2500}


def test_running_reduce_is_cumulative(spark, events):
    out = T.running_reduce(
        events, key="user_id", value=F.sum("value"), order_by=["ts", "event_id"]
    )
    one_user = (
        out.filter(F.col("user_id") == 0).orderBy("ts", "event_id").collect()
    )
    acc = 0.0
    for r in one_user:
        acc += r.value
        assert abs(r.running - acc) < 1e-6


def test_funnel_steps_greedy_earliest_and_window(spark):
    from apache_flink_essentials_spark.operators.transform import funnel_steps

    rows = [
        # user 1: A@0 → B@5 → C@8  (full completion)
        (1, 0, "A"), (1, 5, "B"), (1, 8, "C"),
        # user 2: A@0, B too late (>10), so chain breaks at step 1
        (2, 0, "A"), (2, 50, "B"), (2, 51, "C"),
        # user 3: A@0, B@3; C exists but BEFORE B → not counted
        (3, 0, "A"), (3, 3, "B"), (3, 2, "C"),
        # user 4: two A's (min wins), B within window of FIRST A only
        (4, 0, "A"), (4, 9, "A"), (4, 10, "B"), (4, 11, "C"),
        # user 5: no A at all → absent from output
        (5, 0, "B"), (5, 1, "C"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    out = {r.user_id: r for r in funnel_steps(
        df, "user_id", "ts", "event_type", ["A", "B", "C"], 10).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].t0, out[1].t1, out[1].t2, out[1].completed_steps) == (0, 5, 8, 3)
    assert out[2].completed_steps == 1 and out[2].t1 is None
    assert out[3].completed_steps == 2 and out[3].t2 is None
    assert (out[4].t0, out[4].t1, out[4].t2) == (0, 10, 11)


def test_funnel_steps_greedy_first_semantics_pinned(spark):
    # greedy-first is a CHOICE, not a max matcher: B@1 is taken (earliest),
    # so C@15 falls outside (1, 11] even though chain A@0→B@9→C@15 exists
    from apache_flink_essentials_spark.operators.transform import funnel_steps

    rows = [(1, 0, "A"), (1, 1, "B"), (1, 9, "B"), (1, 15, "C")]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    r = funnel_steps(df, "user_id", "ts", "event_type", ["A", "B", "C"], 10).collect()[0]
    assert (r.t0, r.t1, r.t2, r.completed_steps) == (0, 1, None, 2)


def test_cep_strict_sequence_and_absence(spark):
    from apache_flink_essentials_spark.operators import patterns as PT

    rows = [
        # user 1: error,error,error contiguous; then view with purchase in time
        (1, 1, "2024-01-01 00:00:00", "error"),
        (2, 1, "2024-01-01 00:01:00", "error"),
        (3, 1, "2024-01-01 00:02:00", "error"),
        (4, 1, "2024-01-01 01:00:00", "view"),
        (5, 1, "2024-01-01 01:10:00", "purchase"),
        # user 2: errors broken by a view -> no strict triple; abandoned view
        (6, 2, "2024-01-01 00:00:00", "error"),
        (7, 2, "2024-01-01 00:01:00", "view"),
        (8, 2, "2024-01-01 00:02:00", "error"),
        (9, 2, "2024-01-01 00:03:00", "error"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    m = PT.match_strict_sequence(
        df, "user_id", "ts", "event_type", ["error"] * 3,
        within_seconds=600, order_cols=["event_id"],
    ).collect()
    assert [(r.user_id, r.span_seconds) for r in m] == [(1, 120)]

    # too-slow triple excluded by within
    none = PT.match_strict_sequence(
        df, "user_id", "ts", "event_type", ["error"] * 3,
        within_seconds=60, order_cols=["event_id"],
    ).collect()
    assert none == []

    ab = PT.match_absence(
        df, "user_id", "ts", "event_type",
        first="view", absent="purchase", within_seconds=1800,
        order_cols=["event_id"],
    ).collect()
    # user 1's view converts within 10 min; user 2's never converts
    assert [(r.user_id, r.next_absent_ts) for r in ab] == [(2, None)]


def test_match_absence_linear_on_one_hot_key(spark):
    # 10^5 events on one key, one a minute, every 100th a purchase: a
    # frame running to UNBOUNDED FOLLOWING is recomputed per row (O(n^2)
    # per key); the reversed running frame is one pass
    import time

    from apache_flink_essentials_spark.operators import patterns as PT

    n = 100_000
    df = spark.range(n).select(
        F.lit(1).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.when(F.col("id") % 100 == 99, "purchase").otherwise("view")
        .alias("event_type"),
        F.col("id").alias("event_id"),
    )
    out = PT.match_absence(
        df, "user_id", "ts", "event_type",
        first="view", absent="purchase", within_seconds=1800,
        order_cols=["event_id"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "unboundedfollowing" not in plan
    t0 = time.perf_counter()
    got = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ts").cast("long") % 6000).alias("offsets"),
        F.sum(F.col("next_absent_ts").cast("long") % 6000).alias("next_offsets"),
    ).first()
    assert time.perf_counter() - t0 < 5
    # a view at minute i (i % 100 < 99) waits 99 - i % 100 minutes for the
    # next purchase: more than 30 exactly when i % 100 < 69
    blocks = n // 100
    assert got.n == 69 * blocks
    assert got.offsets == blocks * sum(60 * j for j in range(69))
    assert got.next_offsets == blocks * 69 * 60 * 99


def test_transition_counts_hand_example(spark):
    rows = [
        (1, 1, 1, "a"), (2, 1, 2, "b"), (3, 1, 3, "a"), (4, 1, 4, "b"),
        (5, 2, 1, "a"), (6, 2, 2, "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string"
    )
    out = {(r.from_type, r.to_type): (r.n_transitions, r.p_next)
           for r in T.transition_counts(
               df, "user_id", "ts", "event_type", order_cols=["event_id"]
           ).collect()}
    # user1: a>b, b>a, a>b ; user2: a>a
    assert out[("a", "b")] == (2, 2 / 3)
    assert out[("a", "a")] == (1, 1 / 3)
    assert out[("b", "a")] == (1, 1.0)


def test_global_row_number_matches_single_partition_form(spark):
    from pyspark.sql.window import Window

    df = spark.range(0, 5000).select(
        (F.xxhash64("id") % 1000).alias("k"), F.col("id")
    )
    got = {
        (r.k, r.id): r.rn
        for r in T.global_row_number(df, ["k", "id"], "rn", 8).collect()
    }
    ref = {
        (r.k, r.id): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k", "id")).cast("long")
        ).collect()
    }
    assert got == ref


def test_last_touch_attribution_hand_timeline(spark):
    from apache_flink_essentials_spark.operators.patterns import (
        last_touch_attribution,
    )

    # user 1: click(t=100) -> view(t=200) -> purchase(t=250): credit view.
    #         purchase(t=5000): gap to view 4800 > 3600 -> unattributed.
    # user 2: purchase(t=50) with no prior event -> unattributed.
    #         click(t=60) and view(t=60) tie -> higher event_id (view) wins
    #         for purchase(t=70).
    rows = [
        (1, 10, "click", 100), (1, 11, "view", 200), (1, 12, "purchase", 250),
        (1, 13, "purchase", 5000),
        (2, 20, "purchase", 50), (2, 21, "click", 60), (2, 22, "view", 60),
        (2, 23, "purchase", 70),
    ]
    df = spark.createDataFrame(
        [(u, e, t, float(s)) for u, e, t, s in rows],
        "user_id long, event_id long, event_type string, sec double",
    ).select(
        "user_id", "event_id", "event_type",
        F.col("sec").cast("timestamp").alias("ts"),
    )
    out = {r.target_id: r for r in last_touch_attribution(
        df, "user_id", "ts", "event_type", "event_id",
        target="purchase", within_seconds=3600,
    ).collect()}
    assert out[12].attributed_type == "view" and out[12].attributed_id == 11
    assert out[12].gap_seconds == 50
    assert out[13].attributed_type is None          # outside the window
    assert out[20].attributed_type is None          # nothing precedes
    assert out[23].attributed_id == 22              # tie -> max id
    # a purchase never credits another purchase
    assert all(r.attributed_type != "purchase" for r in out.values())


def test_floor_parallelism_only_triggers_when_under_parallel(spark):
    from apache_flink_essentials_spark.operators.transform import (
        floor_parallelism,
    )

    small = spark.range(10).coalesce(1)
    floored = floor_parallelism(small)
    assert floored.rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert floored.count() == 10
    wide = spark.range(100).repartition(64)
    assert floor_parallelism(wide) is wide  # zero plan change when parallel


def test_floor_parallelism_byte_gate_skips_tiny_files(spark):
    # A provably-tiny local parquet file (< min_task_bytes per resulting
    # task) must NOT be floored: the exchange + n-task scheduling overhead
    # exceeds what it saves (measured regression on a 0.6 MB fixture).
    from apache_flink_essentials_spark.operators.transform import (
        floor_parallelism,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert floor_parallelism(df) is df
    # forcing a tiny per-task byte floor re-enables the exchange
    floored = floor_parallelism(df, min_task_bytes=1)
    assert floored is not df
    assert floored.count() == df.count()
