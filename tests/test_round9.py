"""Round-9 additions: the drift workbench's streaming twin — one
complete-mode binned-sums aggregate feeding derive-on-read CUSUM and ACF
tails, stream ≡ batch bit-for-bit."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_binned_sums_stream_cusum_equals_batch(spark):
    # the complete-mode bin aggregate holds exact associative sums, so
    # the drained state equals the batch binning in any arrival order,
    # and the cusum tail is shared code over that relation -> the
    # streamed scan reproduces the batch op EXACTLY (integer contract:
    # no floats anywhere to diverge)
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        cusum_changepoints,
        cusum_from_binned,
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
    streamed = sorted(map(tuple, cusum_from_binned(state).collect()))
    batch = sorted(
        map(tuple, cusum_changepoints(events, "ts", "value").collect())
    )
    assert streamed == batch and len(batch) > 0
    assert any(r[3] is not None for r in batch)


def test_binned_sums_stream_acf_equals_batch(spark):
    # same state relation, second tail: the ACF screen off the drained
    # bin table matches the batch acf bit-for-bit (exact bin sums ->
    # identical doubles through the shared fixed-order tail)
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.timeseries import (
        acf,
        acf_from_binned,
        binned_sums,
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
    lags = (1, 6, 12, 24)
    streamed = sorted(
        map(tuple, acf_from_binned(state, lags=lags).collect())
    )
    batch = sorted(
        map(tuple, acf(events, "ts", "value", lags=lags).collect())
    )
    assert streamed == batch and len(batch) > 0


# ---- graph.degree_assortativity ------------------------------------------

def test_assortativity_star_is_negative(spark):
    # a star graph is maximally disassortative: the hub (degree 4) only
    # touches leaves (degree 1) -> r = -1
    from apache_flink_essentials_spark.operators import graph as G

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "a long, b long"
    )
    r = G.degree_assortativity(e).collect()[0]
    assert (r.n_nodes, r.n_edges) == (5, 4)
    assert abs(r.assortativity + 1.0) < 1e-12


def test_assortativity_regular_graph_is_null(spark):
    # a cycle is 2-regular: zero degree variance -> undefined, NULL
    from apache_flink_essentials_spark.operators import graph as G

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], "a long, b long"
    )
    r = G.degree_assortativity(e).collect()[0]
    assert r.assortativity is None


# ---- timeseries.theilsen_trend -------------------------------------------

def test_theilsen_exact_line(spark):
    # a perfect line: every pairwise slope equals the true slope
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        theilsen_trend,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=i), 10.0 + 2.5 * i)
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = theilsen_trend(df, "ts", "value").collect()[0]
    assert (r.n_bins, r.n_pairs) == (24, 276)
    # slope in micro-units per bin: 2.5 -> 2_500_000
    assert r.slope_micro_per_bin == 2_500_000.0


def test_theilsen_resists_outlier(spark):
    # one wild outlier bin cannot move the median slope (OLS would move)
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        theilsen_trend,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=i),
         1000.0 if i == 12 else 10.0 + 1.0 * i)
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = theilsen_trend(df, "ts", "value").collect()[0]
    assert abs(r.slope_micro_per_bin - 1_000_000.0) < 1e-6


# ---- vector.signed_projection --------------------------------------------

def test_signed_projection_exact_integers(spark):
    from apache_flink_essentials_spark.operators import vector as V

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 0.25]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = V.signed_projection(df, dim=4, n_proj=3).collect()
    assert len(out) == 6
    table = V.signed_sign_table(3, 4)
    vm = [1_000_000, -2_000_000, 500_000, 250_000]
    expect = {
        (1, j): sum(s * v for s, v in zip(table[j], vm))
        for j in range(3)
    }
    for r in out:
        if r.vec_id == 1:
            assert r.proj_micro == expect[(1, r.proj_idx)]
            assert r.bit == (r.proj_micro >= 0)
        else:
            assert r.proj_micro == 0 and r.bit


def test_signed_sign_table_deterministic():
    from apache_flink_essentials_spark.operators import vector as V

    t1 = V.signed_sign_table(4, 16, seed=7)
    t2 = V.signed_sign_table(4, 16, seed=7)
    assert t1 == t2
    assert all(s in (1, -1) for row in t1 for s in row)
    # different seeds give different tables
    assert t1 != V.signed_sign_table(4, 16, seed=8)


# ---- text.kneser_ney_bigrams ---------------------------------------------

def test_kneser_ney_bigrams_hand_computed(spark):
    from apache_flink_essentials_spark.operators import text as X

    # corpus: "a b" x3, "a c" x1, "d b" x1  (tokens via whitespace)
    docs = spark.createDataFrame(
        [(1, "a b a b a b a c d b")],
        "doc_id long, text string",
    )
    rows = {(r.w1, r.w2): r for r in
            X.kneser_ney_bigrams(docs, top_n=20).collect()}
    # bigrams of the token stream: ab,ba,ab,ba,ab,ba,ac,cd,db ->
    # counts: (a,b)=3 (b,a)=3 (a,c)=1 (c,d)=1 (d,b)=1 ; B=5 distinct
    r = rows[("a", "b")]
    assert r.c12 == 3
    # c1(a)=4, n1p(a)=2 (b,c), n1f(b)=2 (a,d), B=5
    expect = (3 - 0.75) / 4 + (0.75 * 2 / 4) * (2 / 5)
    assert abs(r.p_kn - expect) < 1e-12
    assert rows[("b", "a")].c12 == 3
    # probability mass: sum of p_kn over continuations of 'a' for the
    # two SEEN continuations stays below 1 (discount mass reserved)
    mass = rows[("a", "b")].p_kn + rows[("a", "c")].p_kn
    assert mass < 1.0


# ---- profiling.schema_drift ----------------------------------------------

def test_schema_drift_detects_null_and_cardinality_shift(spark):
    import datetime

    from apache_flink_essentials_spark.operators import profiling as P

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(10):  # early half: no nulls, distinct users
        rows.append((base + datetime.timedelta(hours=i), i, "click"))
    for i in range(10):  # late half: nulls + collapsed cardinality
        rows.append(
            (base + datetime.timedelta(hours=100 + i),
             None if i % 2 else 7, "click")
        )
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string"
    )
    out = {r.column: r for r in
           P.schema_drift(df, "ts", ["user_id", "event_type"]).collect()}
    u = out["user_id"]
    assert (u.n_early, u.n_late) == (10, 10)
    assert u.null_rate_early == 0.0 and u.null_rate_late == 0.5
    assert u.n_distinct_early == 10 and u.n_distinct_late == 1
    e = out["event_type"]
    assert e.n_distinct_early == 1 and e.null_rate_late == 0.0


# ---- profiling.p_chart -----------------------------------------------------

def test_p_chart_flags_planted_burst(spark):
    import datetime

    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators import profiling as P

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for day in range(10):
        n_def = 60 if day == 7 else 10
        for i in range(100):
            rows.append(
                (base + datetime.timedelta(days=day, minutes=i),
                 "error" if i < n_def else "ok")
            )
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = P.p_chart(df, "ts", F.col("event_type") == "error").collect()
    assert len(out) == 10
    flagged = [r for r in out if r.is_out_of_control]
    assert len(flagged) == 1 and flagged[0].n_defect == 60
    # exact predicate replay: (k*N - K*n)^2 > 9*K*(N-K)*n
    K, N = 9 * 10 + 60, 1000
    for r in out:
        lhs = (r.n_defect * N - K * r.n) ** 2
        rhs = 9 * K * (N - K) * r.n
        assert r.is_out_of_control == (lhs > rhs)


# ---- text.flesch_reading_ease ----------------------------------------------

def test_flesch_hand_computed(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "The cat sat. It ran!")], "doc_id long, text string"
    )
    r = X.flesch_reading_ease(docs).collect()[0]
    # words=5, sentences=2, syllables=5 (one vowel group per word)
    assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 2, 5)
    expect = 206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)
    assert abs(r.flesch - expect) < 1e-12


def test_flesch_monosyllabic_vs_polysyllabic(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "a b c d e."), (2, "organizational bureaucratically.")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in X.flesch_reading_ease(docs).collect()}
    assert out[1].flesch > out[2].flesch


# ---- timeseries.holt_linear ------------------------------------------------

def test_holt_constant_series(spark):
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        holt_linear,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [(base + datetime.timedelta(hours=i), 5.0) for i in range(12)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = holt_linear(df, "ts", "value").collect()
    assert len(out) == 12
    assert all(r.level == 5.0 and r.trend == 0.0 for r in out)


def test_holt_matches_python_replay(spark):
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        holt_linear,
    )

    base = datetime.datetime(2024, 1, 1)
    xs = [10.0, 12.0, 11.0, 15.0, 14.0, 20.0, 19.0, 25.0]
    rows = [(base + datetime.timedelta(hours=i), x)
            for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = sorted(holt_linear(df, "ts", "value").collect(),
                 key=lambda r: r.bin)
    l, b = xs[0], 0.0
    assert out[0].level == l and out[0].trend == b
    for i, x in enumerate(xs[1:], start=1):
        l_new = 0.5 * x + 0.5 * (l + b)
        b_new = 0.3 * ((0.5 * x + 0.5 * (l + b)) - l) + 0.7 * b
        # bit-identical replay of the fold (same IEEE op order)
        assert out[i].level == l_new and out[i].trend == b_new
        l, b = l_new, b_new


# ---- vector.hamming_knn ----------------------------------------------------

def test_hamming_knn_identical_vector_ranks_first(spark):
    from apache_flink_essentials_spark.operators import vector as V

    vecs = [
        (0, [1.0, 2.0, -3.0, 0.5]),
        (1, [1.0, 2.0, -3.0, 0.5]),     # identical to 0 -> hamming 0
        (2, [-1.0, -2.0, 3.0, -0.5]),   # negated -> all bits flipped
        (3, [1.0, 2.0, -3.0, 0.4]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    out = V.hamming_knn(df, q, k=3, dim=4, n_proj=8).collect()
    assert [r.neighbor_id for r in out][0] == 1
    assert out[0].hamming == 0
    by_id = {r.neighbor_id: r.hamming for r in out}
    assert by_id[2] == 8  # full bit flip under negation


def test_signed_signature_packs_bits(spark):
    from apache_flink_essentials_spark.operators import vector as V

    df = spark.createDataFrame(
        [(7, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    # zero vector -> every projection is 0 -> every bit set -> 2^n - 1
    r = V.signed_signature(df, dim=2, n_proj=5).collect()[0]
    assert r.sig == 31


# ---- streaming p-chart twin -------------------------------------------------

def test_defect_bins_stream_pchart_equals_batch(spark):
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.profiling import (
        defect_bins,
        p_chart,
        p_chart_from_binned,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    state = run_stream_to_df(
        defect_bins(stream_in, "ts", F.col("event_type") == "error"),
        output_mode="complete",
    )
    streamed = sorted(map(tuple, p_chart_from_binned(state).collect()))
    batch = sorted(
        map(
            tuple,
            p_chart(events, "ts", F.col("event_type") == "error").collect(),
        )
    )
    assert streamed == batch and len(batch) > 0


# ---- text.tokenizer_fertility ------------------------------------------------

def test_tokenizer_fertility_counts(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "en", "model2x beats model1"), (2, "en", "plain words here")],
        "doc_id long, lang string, text string",
    )
    r = X.tokenizer_fertility(docs).collect()[0]
    # words: [model2x, beats, model1] + [plain, words, here] = 6
    # subwords: model2x -> model 2 x? regex splits letter/digit both ways:
    # 'model2x' -> 'model 2 x' (3), beats(1), model1 -> 'model 1' (2),
    # plain(1), words(1), here(1) = 9
    assert (r.n_docs, r.n_words, r.n_subwords) == (2, 6, 9)
    assert abs(r.fertility - 1.5) < 1e-12


# ---- sketches.bloom_fpr_audit --------------------------------------------------

def test_bloom_fpr_planted(spark):
    from apache_flink_essentials_spark.operators import sketches as S

    a = spark.createDataFrame(
        [(i,) for i in range(50)], "user_id long"
    )
    b = spark.createDataFrame(
        [(i,) for i in range(40, 140)], "user_id long"  # 10 overlap
    )
    r = S.bloom_fpr_audit(a, b, "user_id", m_bits=256, k=3).collect()[0]
    assert r.n_inserted == 50
    assert r.n_probed == 90  # overlap anti-joined away
    assert 0 < r.bits_set <= min(256, 150)
    assert 0 <= r.n_false_positive <= r.n_probed
    assert abs(r.observed_fpr - r.n_false_positive / 90) < 1e-15
    # tight sizing -> theoretical fpr materially above zero
    assert 0.0 < r.theoretical_fpr < 1.0


def test_bloom_fpr_huge_filter_no_fp(spark):
    from apache_flink_essentials_spark.operators import sketches as S

    a = spark.createDataFrame([(i,) for i in range(5)], "k long")
    b = spark.createDataFrame([(i,) for i in range(100, 120)], "k long")
    r = S.bloom_fpr_audit(a, b, "k", m_bits=1 << 20, k=4).collect()[0]
    # 5 keys in a million-bit filter: collisions essentially impossible
    assert r.n_false_positive == 0 and r.observed_fpr == 0.0


# ---- vector.centroid_drift -------------------------------------------------

def test_centroid_drift_identical_halves(spark):
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators import vector as V

    rows = []
    for i in range(8):
        v = [1.0, 2.0, 3.0, 4.0]
        rows.append((i, v, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = V.centroid_drift(
        df, F.col("vec_id") % 2 == 1, dim=4
    ).collect()[0]
    assert (r.n_a, r.n_b) == (4, 4)
    assert r.centroid_cosine == 1.0


def test_centroid_drift_orthogonal_split(spark):
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators import vector as V

    rows = [
        (0, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),   # side A -> x-axis
        (1, [0.0, 1.0], 0), (3, [0.0, 1.0], 0),   # side B -> y-axis
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = V.centroid_drift(
        df, F.col("vec_id") % 2 == 1, dim=2
    ).collect()[0]
    assert r.centroid_cosine == 0.0


# ---- graph.khop_reach --------------------------------------------------------

def test_khop_reach_path_graph(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # path 0-1-2-3-4-5, seed {0}: hops 0..3 reachable, 4,5 beyond
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r.node: r.hop for r in G.khop_reach(e, seeds, 3).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def test_khop_reach_min_hop_wins(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # triangle 0-1, 1-2, 0-2: node 2 is reachable at hop 1 AND hop 2 ->
    # labeled 1; seeds themselves stay hop 0 even with self-reaching
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "a long, b long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r.node: r.hop for r in G.khop_reach(e, seeds, 2).collect()}
    assert out == {0: 0, 1: 1, 2: 1}


# ---- profiling.freshness_audit -------------------------------------------------

def test_freshness_audit_stuck_source(spark):
    import datetime

    from apache_flink_essentials_spark.operators import profiling as P

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for d in range(10):
        for _ in range(5):
            rows.append((base + datetime.timedelta(days=d), "healthy"))
    # stuck source: stops emitting after day 4
    for d in range(5):
        rows.append((base + datetime.timedelta(days=d), "stuck"))
    df = spark.createDataFrame(rows, "ts timestamp, source string")
    out = {r.source: r for r in
           P.freshness_audit(df, "ts", "source").collect()}
    h, s = out["healthy"], out["stuck"]
    assert h.lag_s == 0 and h.n_last_window == 5
    assert s.lag_s == 5 * 86400
    assert s.n_last_window == 0 and s.last_window_ratio == 0.0
    assert abs(h.avg_per_window - 5.0) < 1e-12


# ---- joins.blocking_audit ------------------------------------------------------

def test_blocking_audit_pair_math(spark):
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators import joins as J

    df = spark.createDataFrame(
        [("anna",), ("anne",), ("andy",), ("bob",), ("bill",)],
        "name string",
    )
    out = {r.scheme: r for r in J.blocking_audit(df, [
        ("prefix1", F.substring("name", 1, 1)),
        ("prefix2", F.substring("name", 1, 2)),
    ]).collect()}
    p1 = out["prefix1"]
    # blocks a:3, b:2 -> pairs C(3,2)+C(2,2) = 3+1 = 4; total C(5,2)=10
    assert (p1.n_records, p1.n_blocks, p1.candidate_pairs) == (5, 2, 4)
    assert abs(p1.reduction_ratio - (1 - 4 / 10)) < 1e-12
    assert p1.max_block == 3 and abs(p1.max_block_pair_share - 0.75) < 1e-12
    p2 = out["prefix2"]
    # an:3, bo:1, bi:1 -> 3 pairs
    assert (p2.n_blocks, p2.candidate_pairs) == (3, 3)


# ---- timeseries.holt_winters ---------------------------------------------------

def test_holt_winters_matches_python_replay(spark):
    import datetime

    from apache_flink_essentials_spark.operators.timeseries import (
        binned_sums,
        holt_winters_from_binned,
    )

    base = datetime.datetime(2024, 1, 1)
    # 3 cycles of a period-4 seasonal pattern + trend
    xs = [10.0 + 0.5 * t + [0.0, 3.0, -2.0, 1.0][t % 4] for t in range(12)]
    rows = [(base + datetime.timedelta(hours=t), x)
            for t, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = sorted(
        holt_winters_from_binned(
            binned_sums(df, "ts", "value"), period=4
        ).collect(),
        key=lambda r: r.bin,
    )
    l, b = xs[0], 0.0
    seas = [0.0, 0.0, 0.0, 0.0]
    assert (out[0].level, out[0].trend, out[0].seasonal) == (l, b, 0.0)
    for t, x in enumerate(xs[1:], start=1):
        s_old = seas[0]
        l_new = 0.5 * (x - s_old) + 0.5 * (l + b)
        b_new = 0.3 * ((0.5 * (x - s_old) + 0.5 * (l + b)) - l) + 0.7 * b
        s_new = 0.2 * (x - (0.5 * (x - s_old) + 0.5 * (l + b))) \
            + 0.8 * s_old
        seas = seas[1:] + [s_new]
        assert out[t].level == l_new
        assert out[t].trend == b_new
        assert out[t].seasonal == s_new
        l, b = l_new, b_new
    # the learned seasonal at the end tracks the planted pattern's sign
    assert out[9].seasonal > out[10].seasonal  # +3.0 slot vs -2.0 slot


# ---- graph.modularity -----------------------------------------------------------

def test_modularity_two_cliques(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # two triangles joined by one bridge edge; communities = triangles
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "a long, b long",
    )
    assign = spark.createDataFrame(
        [(i, i // 3) for i in range(6)], "node long, community long"
    )
    r = G.modularity(e, assign).collect()[0]
    assert (r.n_edges, r.n_communities, r.within_edges) == (7, 2, 6)
    # degrees: 2,2,3,3,2,2 -> d_c = 7 per community, B = 98
    expect = 6 / 7 - 98 / (4 * 49)
    assert abs(r.modularity - expect) < 1e-12
    assert r.modularity > 0.3  # clearly community-structured


def test_modularity_random_partition_near_zero(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # same graph, partition that cuts both triangles -> poor Q
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "a long, b long",
    )
    assign = spark.createDataFrame(
        [(i, i % 2) for i in range(6)], "node long, community long"
    )
    r = G.modularity(e, assign).collect()[0]
    assert r.modularity < 0.1
