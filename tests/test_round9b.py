"""Round-9 batch 6: robust drift tails (MAD / Kendall / Bollinger /
drawdown), Adamic-Adar link prediction, Yule's K, HHI concentration —
planted-input tests with hand-computed expectations."""

import datetime
import math
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = datetime.datetime(2024, 1, 1)


def _hourly(spark, values):
    """One event per hourly bin with the given value."""
    rows = [
        (BASE + datetime.timedelta(hours=i), float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "ts timestamp, value double")


def test_mad_bins_flags_planted_spike(spark):
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        mad_anomalies_from_binned,
    )

    # 30 quiet bins oscillating 10/12 plus one 500 spike: median and MAD
    # come from the quiet mass, the spike lands > 5*MAD out
    vals = [10.0, 12.0] * 15 + [500.0]
    out = mad_anomalies_from_binned(
        binned_sums(_hourly(spark, vals), "ts", "value", 3600), k=5
    ).collect()
    assert len(out) == 31
    flagged = [r for r in out if r.is_anomaly]
    assert [r.m for r in flagged] == [500_000_000]
    # lower median of 31 sorted micro-means: rank 16 -> 12e6? sorted
    # values: 15x10e6, 15x12e6, 1x500e6 -> rank16 = 12e6
    assert out[0].med_m == 12_000_000
    # deviations: 15x|10-12|e6=2e6, 15x0, 1x488e6 -> sorted rank16 = 2e6
    assert out[0].mad == 2_000_000


def test_mad_bins_constant_series_no_flags(spark):
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        mad_anomalies_from_binned,
    )

    out = mad_anomalies_from_binned(
        binned_sums(_hourly(spark, [7.0] * 12), "ts", "value", 3600)
    ).collect()
    assert all(not r.is_anomaly for r in out) and out[0].mad == 0


def test_kendall_monotone_series(spark):
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        kendall_from_binned,
    )

    up = kendall_from_binned(
        binned_sums(_hourly(spark, range(1, 11)), "ts", "value", 3600)
    ).collect()[0]
    assert up.n_bins == 10 and up.n_pairs == 45
    assert up.concordant == 45 and up.discordant == 0
    assert up.kendall_tau == 1.0

    down = kendall_from_binned(
        binned_sums(_hourly(spark, range(10, 0, -1)), "ts", "value", 3600)
    ).collect()[0]
    assert down.kendall_tau == -1.0 and down.ties == 0


def test_kendall_ties_counted(spark):
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        kendall_from_binned,
    )

    r = kendall_from_binned(
        binned_sums(_hourly(spark, [5.0, 5.0, 5.0]), "ts", "value", 3600)
    ).collect()[0]
    assert r.ties == 3 and r.kendall_tau == 0.0


def test_bollinger_flags_spike_and_dip(spark):
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        bollinger_from_binned,
    )

    # constant 50 with a spike at hour 30 and a dip at hour 79 (outside
    # the spike's trailing windows); algebra for a window of constants
    # plus one outlier v != x at ANY position: S1 = 23x+v, S2 = 23x²+v²,
    # so the OUTLIER row fires (529 > 92 scaled by (v-x)²) and a
    # constant row sharing the window does not (1 > 92 is false)
    vals = [50.0] * 80
    vals[30] = 400.0
    vals[79] = 1.0
    out = bollinger_from_binned(
        binned_sums(_hourly(spark, vals), "ts", "value", 3600),
        window=24, k=2,
    ).collect()
    assert len(out) == 57  # bins 23..79 have a full trailing window
    by_bin = {r.bin - out[0].bin: r for r in out}
    assert by_bin[7].is_upper_break and not by_bin[7].is_lower_break
    assert by_bin[56].is_lower_break and not by_bin[56].is_upper_break
    # a fully-constant window must not fire (0 > 0 is false)...
    assert not by_bin[0].is_upper_break and not by_bin[0].is_lower_break
    # ...and neither does a constant CURRENT row whose window merely
    # contains the spike
    assert not by_bin[8].is_upper_break and not by_bin[8].is_lower_break


def test_max_drawdown_hand_series(spark):
    from apache_flink_essentials_spark.operators.timeseries import (
        max_drawdown,
    )

    rows = [
        ("a", BASE + datetime.timedelta(days=i), v)
        for i, v in enumerate([10.0, 20.0, 5.0, 15.0])
    ] + [("b", BASE, 4.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {r.k: r for r in max_drawdown(df, "ts", "value", "k").collect()}
    a = out["a"]
    # cents series 1000,2000,500,1500; running peak 1000,2000,2000,2000
    assert a.peak_cents == 2000 and a.max_drawdown_cents == 1500
    assert a.max_dd_frac == 1500 / 2000
    b = out["b"]
    assert b.max_drawdown_cents == 0 and b.max_dd_frac == 0.0


def test_adamic_adar_rare_neighbor_dominates(spark):
    from apache_flink_essentials_spark.operators.graph import (
        adamic_adar_pairs,
    )

    # suppliers 1,2 share rare customer r (deg 2); 1,2,3,4 all share
    # popular customer p (deg 4): w_r = round(1e6/ln2) > w_p
    rows = [(1, "r"), (2, "r"), (1, "p"), (2, "p"), (3, "p"), (4, "p")]
    df = spark.createDataFrame(rows, "node int, nb string")
    out = {
        (r.node_a, r.node_b): r
        for r in adamic_adar_pairs(df, "node", "nb").collect()
    }
    w_r = math.floor(1_000_000.0 / math.log(2.0) + 0.5)
    w_p = math.floor(1_000_000.0 / math.log(4.0) + 0.5)
    assert out[(1, 2)].aa_micro == w_r + w_p and out[(1, 2)].n_common == 2
    assert out[(3, 4)].aa_micro == w_p
    assert out[(1, 2)].aa_score == (w_r + w_p) / 1_000_000.0
    # all six pairs through p exist
    assert len(out) == 6


def test_adamic_adar_wedge_cap_drops_hot_neighbor(spark):
    from apache_flink_essentials_spark.operators.graph import (
        adamic_adar_pairs,
    )

    rows = [(1, "r"), (2, "r"), (1, "p"), (2, "p"), (3, "p"), (4, "p")]
    df = spark.createDataFrame(rows, "node int, nb string")
    out = {
        (r.node_a, r.node_b): r
        for r in adamic_adar_pairs(
            df, "node", "nb", max_wedge_degree=2
        ).collect()
    }
    # only the rare-customer wedge survives the cap
    assert set(out) == {(1, 2)}
    assert out[(1, 2)].aa_micro == math.floor(1e6 / math.log(2.0) + 0.5)


def test_yule_k_hand_corpus(spark):
    from apache_flink_essentials_spark.operators.text import yule_k

    df = spark.createDataFrame(
        [("en", "a a a b"), ("de", "x y")], "lang string, text string"
    )
    out = {r.lang: r for r in yule_k(df, "lang").collect()}
    # en: N=4, freqs {a:3, b:1}, S2=10 -> K = 1e4*(10-4)/16 = 3750
    assert out["en"].n_tokens == 4 and out["en"].n_types == 2
    assert out["en"].yule_k == 3750.0
    # de: all hapax -> S2 = N -> K = 0 (repetition-free floor)
    assert out["de"].yule_k == 0.0


def test_hhi_even_vs_monopoly(spark):
    from apache_flink_essentials_spark.operators.profiling import (
        concentration_hhi,
    )

    rows = [
        ("even", 1, 5.0), ("even", 2, 5.0),
        ("mono", 9, 7.0),
        ("skew", 1, 9.0), ("skew", 2, 1.0),
    ]
    df = spark.createDataFrame(rows, "g string, ent int, v double")
    out = {r.g: r for r in concentration_hhi(df, "g", "ent", "v").collect()}
    assert out["even"].hhi == 0.5 and out["even"].top_share == 0.5
    assert out["mono"].hhi == 1.0 and out["mono"].n_entities == 1
    # skew: shares 0.9/0.1 -> hhi = 0.82
    assert abs(out["skew"].hhi - 0.82) < 1e-12
    assert out["skew"].top_share == 0.9
    assert out["skew"].total_cents == 1000


def test_binned_sums_stream_mad_equals_batch(spark):
    # the round-9 MAD tail rides the SAME complete-mode binned-sums
    # state as cusum/acf: drained stream state -> mad tail == batch
    # bit-for-bit (exact integer contract end to end)
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        mad_anomalies_from_binned,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    state = run_stream_to_df(
        binned_sums(stream_in, "ts", "value"), output_mode="complete"
    )
    streamed = sorted(
        map(tuple, mad_anomalies_from_binned(state).collect())
    )
    batch = sorted(
        map(
            tuple,
            mad_anomalies_from_binned(
                binned_sums(events, "ts", "value", 3600)
            ).collect(),
        )
    )
    assert streamed == batch and len(batch) > 0


def test_binned_sums_stream_permutation_entropy_equals_batch(spark):
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        permutation_entropy_from_binned,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    state = run_stream_to_df(
        binned_sums(stream_in, "ts", "value"), output_mode="complete"
    )
    streamed = permutation_entropy_from_binned(state).collect()
    batch = permutation_entropy_from_binned(
        binned_sums(events, "ts", "value", 3600)
    ).collect()
    assert list(map(tuple, streamed)) == list(map(tuple, batch))
    assert batch[0].n_triples > 0


def test_binned_sums_stream_bollinger_and_kendall_equal_batch(spark):
    # two more tails off the SAME complete-mode state: Bollinger break
    # flags and the Kendall trend row match batch bit-for-bit
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        bollinger_from_binned,
        kendall_from_binned,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    state = run_stream_to_df(
        binned_sums(stream_in, "ts", "value"), output_mode="complete"
    )
    batch_bins = binned_sums(events, "ts", "value", 3600)
    assert sorted(map(tuple, bollinger_from_binned(state).collect())) == \
        sorted(map(tuple, bollinger_from_binned(batch_bins).collect()))
    assert kendall_from_binned(state).collect() == \
        kendall_from_binned(batch_bins).collect()
