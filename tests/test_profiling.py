"""Hand-computed pins for the profiling/diagnostics tier
(operators/profiling.py) and int8 quantization (operators/vector.py) —
the oracle sweep covers the fixture tables; these pin the arithmetic on
inputs small enough to verify by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_flink_essentials_spark.operators import profiling as P
from apache_flink_essentials_spark.operators import vector as V


@pytest.fixture(scope="module")
def keys_df(spark):
    return spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [("c",)], "k string"
    )


def test_key_skew_profile_hand_example(keys_df):
    rows = {r.rnk: r for r in P.key_skew_profile(keys_df, "k", 2).collect()}
    assert rows[1].k == "a" and rows[1].cnt == 3
    assert rows[1].share == pytest.approx(0.5) and rows[1].cum_share == pytest.approx(0.5)
    assert rows[2].k == "b" and rows[2].cnt == 2
    assert rows[2].share == pytest.approx(2 / 6) and rows[2].cum_share == pytest.approx(5 / 6)
    assert len(rows) == 2  # top_n respected


def test_zscore_anomalies_flags_only_outlier(spark):
    # user 7: values 0,0,0,0,10 → μ=2, σ²=E[x²]−μ²=20−4=16, σ=4
    # z(10)=2, z(0)=−0.5 → threshold 1.5 flags exactly the 10
    df = spark.createDataFrame(
        [(i, 7, 0.0) for i in range(4)] + [(4, 7, 10.0)],
        "event_id long, user_id long, value double",
    )
    out = P.zscore_anomalies(df, threshold=1.5).collect()
    assert len(out) == 1 and out[0].event_id == 4
    assert out[0].z == pytest.approx(2.0)


def test_profile_columns_counts_nulls_distincts(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "x")], "id long, s string"
    )
    prof = {r.col_name: r for r in P.profile_columns(df, ["id", "s"]).collect()}
    assert prof["id"].n_rows == 3 and prof["id"].n_null == 0
    assert prof["id"].n_distinct == 3
    assert prof["id"].min_s == "1" and prof["id"].max_s == "3"
    assert prof["s"].n_null == 1 and prof["s"].n_distinct == 1
    assert prof["s"].min_s == "x" and prof["s"].max_s == "x"


def test_quantize_int8_hand_example(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in V.quantize_int8_stats(df).collect()}
    # scale = 1/127; q = [floor(127.5)=127, floor(-63.5+0.5)=-63, 0]
    assert out[1].scale == pytest.approx(1 / 127)
    assert out[1].qnorm2 == 127 * 127 + 63 * 63
    assert out[1].mse == pytest.approx((0.5 / 127) ** 2 / 3, rel=1e-6)
    # all-zero vector: guarded — no NaN/inf, exact zeros
    assert out[2].scale == 0.0 and out[2].qnorm2 == 0 and out[2].mse == 0.0


def test_quantize_int8_error_bound(spark, embeddings=None):
    # |x − q·scale| ≤ scale/2 per component ⇒ mse ≤ scale²/4
    df = spark.createDataFrame(
        [(i, [((i * 7 + j * 13) % 101 - 50) / 10.0 for j in range(8)])
         for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    bad = (
        V.quantize_int8_stats(df)
        .filter(F.col("mse") > (F.col("scale") ** 2) / 4 + 1e-12)
        .count()
    )
    assert bad == 0


def test_value_histogram_bins_and_sums(spark):
    from apache_flink_essentials_spark.operators import profiling as P

    df = spark.createDataFrame(
        [(0.0,), (4.9,), (5.0,), (12.5,), (-0.1,), (None,)], "value double"
    )
    out = {r.bin_start: (r.n_rows, r.sum_value) for r in
           P.value_histogram(df, "value", 5.0).collect()}
    assert out[0.0] == (2, 4.9)
    assert out[5.0] == (1, 5.0)
    assert out[10.0] == (1, 12.5)
    assert out[-5.0] == (1, -0.1)
    assert None not in out and len(out) == 4


def test_grouped_covariance_hand_example(spark):
    from apache_flink_essentials_spark.operators.profiling import grouped_covariance

    rows = [
        # key 1: x=[1,2,3], y=[2,4,6] → cov_pop = 4/3 (perfectly linear)
        (1, 1.0, 2.0), (1, 2.0, 4.0), (1, 3.0, 6.0),
        # key 2: x=[1,3], y=[5,1] → means 2,3; cov = ((-1)(2)+(1)(-2))/2 = -2
        (2, 1.0, 5.0), (2, 3.0, 1.0),
        # key 3: single row → filtered by min_n
        (3, 9.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "k long, x double, y double")
    out = {r.k: r for r in grouped_covariance(df, "k", "x", "y").collect()}
    assert set(out) == {1, 2}
    assert abs(out[1].cov_pop - 4.0 / 3.0) < 1e-12
    assert out[2].cov_pop == -2.0


def test_expect_counts_and_samples(spark):
    from apache_flink_essentials_spark.operators.profiling import expect

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, -1.0, "b"), (3, None, "a"), (4, 9.0, None)],
        "id long, x double, cat string",
    )
    rules = {
        "x_nonneg": F.col("x") >= 0,          # violators: 2 (neg), 3 (null→fail)
        "cat_known": F.col("cat").isin("a", "b"),  # violator: 4
        "id_positive": F.col("id") > 0,       # none
    }
    rep = {r.rule: r for r in expect(df, rules).collect()}
    assert rep["x_nonneg"].violations == 2
    assert rep["cat_known"].violations == 1
    assert rep["id_positive"].violations == 0
    assert all(r.n_rows == 4 for r in rep.values())
    assert rep["x_nonneg"].violation_rate == 0.5

    with_samples = {
        r.rule: r for r in expect(df, rules, sample_violations=5, id_col="id").collect()
    }
    assert with_samples["x_nonneg"].examples == ["2", "3"]
    assert with_samples["cat_known"].examples == ["4"]
    assert with_samples["id_positive"].examples is None


def test_value_percentiles_hand_computed(spark):
    from apache_flink_essentials_spark.operators.profiling import (
        value_percentiles,
    )

    df = spark.createDataFrame(
        [("x", float(v)) for v in range(1, 5)] + [("y", 10.0)],
        "g string, v double",
    )
    got = {r.g: r for r in value_percentiles(df, "g", "v").collect()}
    # sorted x = [1,2,3,4]: p50 = 2.5 (linear midpoint), p95 = 3.85, p99 = 3.97
    assert got["x"].n == 4 and abs(got["x"].p50 - 2.5) < 1e-12
    assert abs(got["x"].p95 - 3.85) < 1e-12
    assert abs(got["x"].p99 - 3.97) < 1e-12
    # single-value group: every percentile is that value
    assert got["y"].p50 == got["y"].p95 == got["y"].p99 == 10.0


def test_ab_conversion_ztest_hand_computed(spark):
    import math

    from apache_flink_essentials_spark.operators.profiling import (
        ab_conversion_ztest,
    )

    # variant a: units 1,2 (1 converts); variant b: units 3,4,5 (3 convert)
    rows = [
        (1, "a", True), (1, "a", False), (2, "a", False),
        (3, "b", True), (4, "b", True), (5, "b", True),
    ]
    df = spark.createDataFrame(rows, "u long, variant string, conv boolean")
    r = ab_conversion_ztest(df, "u", "variant", "conv").collect()[0]
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (2, 1, 3, 3)
    p_a, p_b, p = 0.5, 1.0, 4 / 5
    se = math.sqrt(p * (1 - p) * (1 / 2 + 1 / 3))
    assert abs(r.rate_diff - (p_a - p_b)) < 1e-12
    assert abs(r.z_stat - (p_a - p_b) / se) < 1e-12


def test_mad_outliers_flags_planted_and_skips_zero_mad(spark):
    # key "a": tight cluster around 10 with one wild point -> flagged;
    # key "b": >50% identical values -> MAD = 0 -> excluded entirely
    rows = [(i, "a", v) for i, v in enumerate([9.0, 9.5, 10.0, 10.5, 11.0, 100.0])]
    rows += [(10 + i, "b", v) for i, v in enumerate([5.0, 5.0, 5.0, 5.0, 99.0])]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = P.mad_outliers(
        df, key_col="event_type", value_col="value", id_col="event_id"
    ).collect()
    assert [r.event_id for r in out] == [5]
    assert out[0].robust_z > 3.0


def test_mad_robust_where_zscore_masked(spark):
    # two extreme points inflate sigma enough that |z| stays under 2 for
    # one of them, while the median/MAD center stays put and flags both —
    # the masking failure MAD exists to fix
    vals = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.1, 9.9, 500.0, 480.0]
    df = spark.createDataFrame(
        [(i, "k", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    mad_ids = {r.event_id for r in P.mad_outliers(
        df, key_col="event_type", value_col="value", id_col="event_id"
    ).collect()}
    z_ids = {r.event_id for r in P.zscore_anomalies(
        df, key_col="event_type", value_col="value", id_col="event_id",
        threshold=2.0,
    ).collect()}
    assert mad_ids >= {8, 9}
    assert not z_ids >= {8, 9}   # z-score masks at least one extreme


def test_winsorize_clips_tails_only(spark):
    from apache_flink_essentials_spark.operators.curation import winsorize

    vals = list(range(1, 100)) + [10_000]
    df = spark.createDataFrame(
        [(i, "k", float(v)) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    out = winsorize(df, "event_type", "value", 0.05, 0.95).collect()
    clipped = {r.event_id for r in out if r.clipped}
    # only the extreme tail rows clip; interior values are untouched
    assert len(clipped) == 10  # 5% of each tail of 100 values
    by_id = {r.event_id: r for r in out}
    assert by_id[50].value_w == by_id[50].value
    assert by_id[99].value == 10_000.0 and by_id[99].value_w < 10_000.0


def test_benford_digits_planted(spark):
    from apache_flink_essentials_spark.operators.profiling import (
        BENFORD_P,
        benford_digits,
    )

    rows = [(float(v),) for v in (1.0, 1.5, 19.0, 2.0, 30.0, 0.09, -4.0, 0.0)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.digit: r for r in benford_digits(df, "v").collect()}
    # -4.0 and 0.0 excluded; 0.09 → cents 9 → digit 9
    assert out[1].n_obs == 3 and out[2].n_obs == 1
    assert out[3].n_obs == 1 and out[9].n_obs == 1
    assert abs(sum(r.obs_p for r in out.values()) - 1.0) < 1e-12
    assert out[1].benford_p == BENFORD_P[1]


def test_chi2_cells_independent_table_is_zero(spark):
    # perfectly independent 2x2 contingency: chi2 contribution == 0
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators.profiling import chi2_cells

    rows = [("a", 0)] * 10 + [("a", 1)] * 10 + [("b", 0)] * 30 + [("b", 1)] * 30
    df = spark.createDataFrame(rows, "k string, band long")
    out = chi2_cells(df, "k", F.col("band"), "band").collect()
    assert len(out) == 4
    assert all(r.chi2_contrib == 0.0 for r in out)
    assert {(r.k, r.band): r.n_obs for r in out}[("b", 0)] == 30
    assert all(r.expected == float(r.n_obs) for r in out)


# ---- fd_violations (g3 error audit) ----------------------------------------


def test_fd_violations_g3_semantics(spark):
    from apache_flink_essentials_spark.operators import profiling as P

    # x=1 -> y in {a,a,b}: majority a kept, 1 deletion; x=2 -> clean (2 rows);
    # x=3 -> y in {a,b,c}: keep 1, delete 2. g3 = 3 over 8 rows.
    rows = [
        (1, "a"), (1, "a"), (1, "b"),
        (2, "z"), (2, "z"),
        (3, "a"), (3, "b"), (3, "c"),
    ]
    df = spark.createDataFrame(rows, "x int, y string")
    r = P.fd_violations(df, [("x->y", ["x"], "y")]).collect()[0]
    assert r.fd == "x->y"
    assert r.n_rows == 8
    assert r.n_groups == 3
    assert r.n_violating_groups == 2
    assert r.g3_rows == 3
    assert abs(r.g3_error - 3 / 8) < 1e-15


def test_fd_violations_null_y_is_a_value(spark):
    from apache_flink_essentials_spark.operators import profiling as P

    # NULL y mixed with a non-NULL y violates the FD (a group whose Y is
    # sometimes missing is not functionally determined)
    rows = [(1, "a"), (1, None), (2, None), (2, None)]
    df = spark.createDataFrame(rows, "x int, y string")
    r = P.fd_violations(df, [("x->y", ["x"], "y")]).collect()[0]
    assert r.n_violating_groups == 1
    assert r.g3_rows == 1


def test_fd_violations_holds_exactly(spark):
    from apache_flink_essentials_spark.operators import profiling as P

    rows = [(i, f"v{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "x int, y string")
    # x is a key: FD holds; also y -> y trivially holds
    out = {r.fd: r for r in P.fd_violations(
        df, [("x->y", ["x"], "y"), ("y->y", ["y"], "y")]
    ).collect()}
    assert out["x->y"].g3_rows == 0 and out["x->y"].n_violating_groups == 0
    assert out["y->y"].g3_rows == 0 and out["y->y"].n_groups == 3


def test_fd_audit_stream_equals_batch(spark):
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.profiling import (
        fd_from_xy_counts,
        fd_violations,
        fd_xy_counts,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    state = run_stream_to_df(
        fd_xy_counts(stream_in, ["user_id"], "event_type"),
        output_mode="complete",
    )
    streamed = sorted(map(tuple, fd_from_xy_counts(
        state, "events.user_id->event_type", ["user_id"]
    ).collect()))
    batch = sorted(map(tuple, fd_violations(
        events, [("events.user_id->event_type", ["user_id"], "event_type")]
    ).collect()))
    assert streamed == batch and len(batch) == 1
