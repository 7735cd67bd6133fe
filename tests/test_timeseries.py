"""Pins for the time-series tier: gapfill+LOCF grid semantics and
rows-frame moving aggregates, on hand-computable inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_flink_essentials_spark.operators import timeseries as TS


def test_gapfill_locf_fills_missing_buckets(spark):
    # key 1 observed at buckets 0 and 30 (step 10) → grid 0,10,20,30
    # key 2 observed only at bucket 50 → single-cell grid
    rows = [
        (1, 5, 1.0),    # bucket 0
        (1, 31, 4.0),   # bucket 30
        (2, 55, 9.0),   # bucket 50
    ]
    df = spark.createDataFrame(rows, "k long, ts long, value double")
    out = {
        (r.k, r.bucket): r.value_locf
        for r in TS.gapfill_locf(df, "k", "ts", "value", 10).collect()
    }
    assert out == {
        (1, 0): 1.0,
        (1, 10): 1.0,   # carried forward
        (1, 20): 1.0,   # carried forward
        (1, 30): 4.0,
        (2, 50): 9.0,
    }


def test_gapfill_last_observation_in_bucket_wins(spark):
    rows = [(1, 3, 1, 10.0), (1, 7, 2, 20.0), (1, 7, 3, 30.0)]
    df = spark.createDataFrame(rows, "k long, ts long, eid long, value double")
    out = TS.gapfill_locf(df, "k", "ts", "value", 10, seq_cols=["eid"]).collect()
    assert len(out) == 1 and out[0].value_locf == 30.0  # ts 7 / eid 3 wins


def test_moving_agg_frame_values(spark):
    rows = [(1, i, float(i)) for i in range(1, 6)]  # values 1..5
    df = spark.createDataFrame(rows, "k long, seq long, value double")
    out = {
        r.seq: (r.moving_sum, r.n_window, r.moving_avg)
        for r in TS.moving_agg(df, "k", "value", ["seq"], preceding=2).collect()
    }
    assert out[1] == (1.0, 1, 1.0)
    assert out[2] == (3.0, 2, 1.5)
    assert out[3] == (6.0, 3, 2.0)
    assert out[4] == (9.0, 3, 3.0)   # frame = {2,3,4}
    assert out[5] == (12.0, 3, 4.0)  # frame = {3,4,5}


def test_gapfill_grid_is_per_key_not_global(spark):
    # keys with disjoint spans must not inherit each other's range
    rows = [(1, 0, 1.0), (1, 20, 2.0), (2, 1000, 3.0), (2, 1010, 4.0)]
    df = spark.createDataFrame(rows, "k long, ts long, value double")
    out = TS.gapfill_locf(df, "k", "ts", "value", 10)
    counts = {r.k: r["count"] for r in out.groupBy("k").count().collect()}
    assert counts == {1: 3, 2: 2}  # 0..20 and 1000..1010, no cross product


def test_ohlc_hand_example(spark):
    from apache_flink_essentials_spark.operators.timeseries import ohlc

    rows = [  # one key, one hour bucket starting at 0
        (1, 1, 10, 5.0),   # open (earliest)
        (1, 2, 20, 9.0),   # high
        (1, 3, 30, 1.0),   # low
        (1, 4, 40, 7.0),   # close (latest)
        # second bucket
        (1, 5, 3700, 2.0),
    ]
    df = spark.createDataFrame(rows, "k long, event_id long, ts long, value double")
    out = {r.bucket: r for r in ohlc(df, "k", "ts", "value", 3600, "event_id").collect()}
    b0 = out[0]
    assert (b0.open, b0.high, b0.low, b0.close, b0.n_events) == (5.0, 9.0, 1.0, 7.0, 4)
    assert out[3600].open == out[3600].close == 2.0


def test_ohlc_tiebreak_on_same_timestamp(spark):
    from apache_flink_essentials_spark.operators.timeseries import ohlc

    rows = [(1, 1, 100, 3.0), (1, 2, 100, 8.0)]  # same ts → event_id breaks
    df = spark.createDataFrame(rows, "k long, event_id long, ts long, value double")
    r = ohlc(df, "k", "ts", "value", 3600, "event_id").collect()[0]
    assert r.open == 3.0 and r.close == 8.0


def test_time_weighted_avg_hand_example(spark):
    from apache_flink_essentials_spark.operators.timeseries import time_weighted_avg

    rows = [
        # key 1: v=10 held 10s, v=20 held 30s, final obs carries no weight
        (1, 1, 0, 10.0), (1, 2, 10, 20.0), (1, 3, 40, 99.0),
        # key 2: single observation → no intervals → filtered out
        (2, 4, 0, 5.0),
    ]
    df = spark.createDataFrame(rows, "k long, event_id long, ts long, value double")
    out = {r.k: r for r in time_weighted_avg(df, "k", "ts", "value", "event_id").collect()}
    assert set(out) == {1}
    assert out[1].total_seconds == 40
    assert out[1].twap == (10.0 * 10 + 20.0 * 30) / 40  # = 17.5


def test_gapfill_interpolate_exact(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    rows = [
        (1, 1, "2024-01-01 00:00:00", 10.0),
        (2, 1, "2024-01-01 03:00:00", 40.0),   # 3h gap -> 20, 30 interpolated
        (3, 2, "2024-01-01 00:30:00", 5.0),    # single obs -> nb == pb branch
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r.user_id, r.bucket): r.value_interp
           for r in TS.gapfill_interpolate(
               df, "user_id", "ts", "value", 3600, seq_cols=["event_id"]
           ).collect()}
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    assert out[(1, base)] == 10.0
    assert out[(1, base + 3600)] == 20.0
    assert out[(1, base + 7200)] == 30.0
    assert out[(1, base + 10800)] == 40.0
    assert out[(2, base)] == 5.0 and len(out) == 5


def test_gapfill_interpolate_linear_on_one_hot_key(spark):
    # 10^5 observations on one key, every other hour: a frame running to
    # UNBOUNDED FOLLOWING is recomputed per row (O(n^2) per key, about
    # 34 s at 4x10^4 rows on 4 cpus); both running frames take ~1 s here
    import time

    n = 100_000
    df = spark.range(n).select(
        F.lit(1).alias("k"),
        F.timestamp_seconds(F.col("id") * 7200).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    out = TS.gapfill_interpolate(df, "k", "ts", "value", 3600)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "unboundedfollowing" not in plan
    t0 = time.perf_counter()
    got = out.agg(
        F.count("*").alias("n"),
        F.sum("value_interp").alias("s"),
        F.sum(F.when(F.col("value_interp") != F.col("bucket") / 7200, 1)
              .otherwise(0)).alias("bad"),
    ).first()
    assert time.perf_counter() - t0 < 30
    # grid 0..2(n-1) hours; hour h carries h/2 (observed or midpoint)
    assert got.n == 2 * n - 1 and got.bad == 0
    assert got.s == sum(h / 2 for h in range(2 * n - 1))


def test_ewma_anomaly_flags_planted_spike(spark):
    rows = [(1, t, 10.0 + (0.1 if t % 2 else -0.1)) for t in range(1, 21)]
    rows.append((1, 21, 50.0))      # planted spike
    rows.append((1, 22, 10.0))
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    out = {r.ts_s: r for r in TS.ewma_anomaly(
        df, "user_id", "ts", "value", alpha=0.3, z=3.0).collect()}
    assert out[21].is_anomaly
    assert not any(out[t].is_anomaly for t in range(1, 21))


def test_ewma_stream_bitwise_equals_batch(spark, events):
    from apache_flink_essentials_spark.streaming import stateful
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    sample = events.filter(F.col("user_id") < 20).select(
        "user_id", "ts", "value", "event_id"
    )
    batch = {
        (r.user_id, r.ts_s): (r.value, r.ewma, r.is_anomaly)
        for r in TS.ewma_anomaly(sample, "user_id", "ts", "value").collect()
    }
    stream = replay_as_stream(sample, num_files=3, order_by="ts")
    got = {
        (r.user_id, r.ts_s): (r.value, r.ewma, r.is_anomaly)
        for r in run_stream_to_df(
            stateful.ewma_anomaly_stream(stream, "user_id", "ts", "value"),
            output_mode="append",
        ).collect()
    }
    assert got == batch and len(batch) > 0   # exact float equality


def test_seasonal_residuals_flags_off_phase_value(spark):
    # type "a": value 10 at hour 0, value 100 at hour 1, across many days;
    # one day has a 100 at hour 0 — normal globally, anomalous for phase 0
    rows = []
    eid = 0
    for day in range(30):
        base = day * 86400
        rows.append((eid, "a", base, 10.0)); eid += 1
        rows.append((eid, "a", base + 3600, 100.0)); eid += 1
    rows.append((eid, "a", 30 * 86400, 100.0))  # planted phase-0 outlier
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts long, value double"
    )
    out = TS.seasonal_residuals(
        df, "event_type", "ts", "value", "event_id", z=3.0
    ).collect()
    assert [(r.event_id, r.phase) for r in out] == [(eid, 0)]
    assert out[0].z_seasonal > 3.0


def test_ewma_smooth_hand_computed(spark):
    # one key, values 10, 20, 30 at ts 1,2,3; alpha=0.5 → decay 0.5.
    # m1 = 10; m2 = (10*0.5 + 20) / (0.5 + 1) = 25/1.5
    # m3 = (10*0.25 + 20*0.5 + 30) / (0.25 + 0.5 + 1) = 42.5/1.75
    df = spark.createDataFrame(
        [(1, 1, 1, 10.0), (1, 2, 2, 20.0), (1, 3, 3, 30.0)],
        "k long, id long, ts long, value double",
    )
    out = {r.id: r.ewma for r in TS.ewma_smooth(
        df, "k", "ts", "value", "id", alpha=0.5, window=50).collect()}
    assert out[1] == 10.0
    assert abs(out[2] - 25.0 / 1.5) < 1e-12
    assert abs(out[3] - 42.5 / 1.75) < 1e-12


def test_ewma_smooth_window_truncates(spark):
    # window=2: m3 uses only (x2, x3): (20*0.5 + 30) / 1.5
    df = spark.createDataFrame(
        [(1, 1, 1, 10.0), (1, 2, 2, 20.0), (1, 3, 3, 30.0)],
        "k long, id long, ts long, value double",
    )
    out = {r.id: r.ewma for r in TS.ewma_smooth(
        df, "k", "ts", "value", "id", alpha=0.5, window=2).collect()}
    assert abs(out[3] - 40.0 / 1.5) < 1e-12


def test_lag_correlation_detects_planted_shift(spark):
    # series B is EXACTLY series A shifted by 2 bins → r = 1.0 at lag 2,
    # and the integer-power-sum Pearson is exact there
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        lag_correlation,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    counts = [1, 5, 2, 7, 3, 6, 4, 8, 2, 9]
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append((base + datetime.timedelta(hours=i), "a"))
        for _ in range(c):
            rows.append((base + datetime.timedelta(hours=i + 2), "b"))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {
        r.lag: r
        for r in lag_correlation(
            df, "ts", "event_type", "a", "b", lags=(0, 1, 2, 3)
        ).collect()
    }
    assert out[2].r == 1.0
    assert out[2].n == 10  # all ten bins pair up at the true lag
    assert all(out[l].r < 1.0 for l in (0, 1, 3) if l in out)


def test_lag_correlation_skips_zero_variance(spark):
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        lag_correlation,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(6):
        rows.append((base + datetime.timedelta(hours=i), "a"))  # constant 1/bin
        for _ in range(i + 1):
            rows.append((base + datetime.timedelta(hours=i), "b"))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = lag_correlation(df, "ts", "event_type", "a", "b", lags=(0,)).collect()
    assert out == []  # constant series has no defined correlation


def test_cusum_flags_planted_level_shift(spark):
    # flat series at 10.0 for 48 bins, then a sustained shift to 20.0:
    # the cusum escapes the sqrt(i) envelope after the shift and is
    # near-zero (inside it) before
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        cusum_changepoints,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(96):
        level = 10.0 if i < 48 else 20.0
        rows.append((base + datetime.timedelta(hours=i), level))
        rows.append((base + datetime.timedelta(hours=i, minutes=30), level))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = sorted(cusum_changepoints(df, "ts", "value").collect(),
                 key=lambda r: r.bin)
    flagged = [r for r in out if r.is_changepoint]
    assert flagged, "the level shift must be flagged"
    # mean-centered CUSUM localizes the shift at the |cusum| ARGMAX: the
    # last pre-shift bin (deviations accumulate up to the break, then
    # unwind) — bins[47] is the 48th bin, the final one at the old level
    peak = max(out, key=lambda r: abs(r.cusum_micro))
    assert peak.bin == out[47].bin
    assert peak.is_changepoint
    # exact-integer contract: micro means are the planted levels exactly
    assert out[0].bin_mean_micro == 10_000_000
    assert out[-1].bin_mean_micro == 20_000_000


def test_cusum_constant_series_flags_nothing(spark):
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        cusum_changepoints,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [(base + datetime.timedelta(hours=i), 5.0) for i in range(50)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = cusum_changepoints(df, "ts", "value").collect()
    assert all(not r.is_changepoint for r in out)
    assert all(r.cusum_micro == 0 for r in out)
