"""Round-8 operator batch: triangle census, neighbor overlap, item
co-occurrence, OLS trend, ACF, token-budget selection, referential audit,
Zipf fit, distributed prefix sum — hand-computed fixtures (SURVEY §5)."""

import math

import pytest
from pyspark.sql import functions as F


# ---- graph.triangle_stats ------------------------------------------------

def _tri(spark, edges):
    from apache_flink_essentials_spark.operators import graph as G

    df = spark.createDataFrame(edges, "a long, b long")
    return G.triangle_stats(df).collect()[0]


def test_triangle_stats_k4(spark):
    # complete graph on 4 nodes: 6 edges, 4 triangles, 12 wedges,
    # clustering 3*4/12 = 1.0
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    r = _tri(spark, edges)
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.global_clustering == 1.0


def test_triangle_stats_path_has_none(spark):
    r = _tri(spark, [(1, 2), (2, 3), (3, 4)])
    assert r.n_triangles == 0
    assert r.n_wedges == 2
    assert r.global_clustering == 0.0


def test_triangle_stats_star_plus_closure(spark):
    # star 0-{1,2,3} plus edge 1-2: exactly one triangle (0,1,2);
    # wedges: deg(0)=3 -> 3, deg(1)=deg(2)=2 -> 1 each => 5
    r = _tri(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])
    assert r.n_triangles == 1
    assert r.n_wedges == 5
    assert r.global_clustering == 3 * 1 / 5


def test_triangle_stats_degree_cap_drops_hub(spark):
    # hub 0 touches everyone; capping at degree 2 removes the hub and
    # its triangles, leaving the 1-2 edge only
    from apache_flink_essentials_spark.operators import graph as G

    df = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "a long, b long"
    )
    r = G.triangle_stats(df, max_degree=2).collect()[0]
    assert r.n_triangles == 0
    assert r.n_edges == 1


def test_undirected_edges_canonicalizes(spark):
    from apache_flink_essentials_spark.operators import graph as G

    df = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 3), (None, 1), (4, 5)], "a long, b long"
    )
    rows = sorted(
        (r.a, r.b) for r in G.undirected_edges(df, "a", "b").collect()
    )
    assert rows == [(1, 2), (4, 5)]


# ---- graph.neighbor_overlap_pairs ---------------------------------------

def test_neighbor_overlap_jaccard(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # N(1)={a,b,c}, N(2)={b,c,d}, N(3)={x}
    bip = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "b"), (2, "c"), (2, "d"),
         (3, "x")],
        "node long, nb string",
    )
    rows = G.neighbor_overlap_pairs(bip, "node", "nb").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.node_a, r.node_b, r.n_common) == (1, 2, 2)
    assert r.jaccard == 2 / 4


def test_neighbor_overlap_hot_cap(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # neighbor "hub" shared by 3 nodes is dropped at cap 2; pair (1,2)
    # survives via "b"
    bip = spark.createDataFrame(
        [(1, "hub"), (2, "hub"), (3, "hub"), (1, "b"), (2, "b")],
        "node long, nb string",
    )
    rows = G.neighbor_overlap_pairs(
        bip, "node", "nb", max_wedge_degree=2
    ).collect()
    assert [(r.node_a, r.node_b, r.n_common) for r in rows] == [(1, 2, 1)]
    # degrees still count the capped neighbor (caps affect candidate
    # generation, not the truth of |N(x)|)
    assert rows[0].deg_a == 2 and rows[0].deg_b == 2


# ---- reco.item_cooccurrence ---------------------------------------------

def test_item_cooccurrence_counts(spark):
    from apache_flink_essentials_spark.operators import reco as R

    baskets = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (2, 30), (3, 10)],
        "basket long, item long",
    )
    rows = {(r.item_a, r.item_b): r
            for r in R.item_cooccurrence(baskets, "basket", "item").collect()}
    r = rows[(10, 20)]
    assert (r.n_ab, r.n_a, r.n_b) == (2, 3, 2)
    assert r.cosine == round(2 / math.sqrt(6), 6)
    assert r.lift == 2 * 3 / (3 * 2)  # == 1.0
    assert rows[(10, 30)].n_ab == 1 and rows[(20, 30)].n_ab == 1


def test_item_cooccurrence_basket_cap(spark):
    from apache_flink_essentials_spark.operators import reco as R

    baskets = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (2, 10), (2, 20)],
        "basket long, item long",
    )
    rows = R.item_cooccurrence(
        baskets, "basket", "item", max_basket_size=2
    ).collect()
    assert [(r.item_a, r.item_b, r.n_ab) for r in rows] == [(10, 20, 1)]


# ---- timeseries.trend_ols ------------------------------------------------

def test_trend_ols_exact_line(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    # y = 2*x_seconds + 5 -> slope_per_hour = 7200, r2 = 1
    rows = [("a", f"2024-01-01 00:00:{s:02d}", float(2 * s + 5))
            for s in range(0, 50)]
    df = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"),
             "value")
    r = TS.trend_ols(df, "event_type", "ts", "value").collect()[0]
    assert r.n == 50
    assert abs(r.slope_per_hour - 7200.0) < 1e-6
    assert abs(r.intercept - 5.0) < 1e-9
    assert abs(r.r2 - 1.0) < 1e-12


def test_trend_ols_flat_series(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    rows = [("a", f"2024-01-01 00:00:{s:02d}", 3.0) for s in range(10)]
    df = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"),
             "value")
    r = TS.trend_ols(df, "event_type", "ts", "value").collect()[0]
    assert abs(r.slope_per_hour) < 1e-9
    assert abs(r.intercept - 3.0) < 1e-9
    assert r.r2 is None  # zero y-variance: r² undefined, not an error


# ---- timeseries.acf ------------------------------------------------------

def test_acf_alternating_series(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    # one event per hour, value alternating +1/-1 around 0:
    # acf(1) = -1, acf(2) = +1 (up to the n/(n-k) truncation of the
    # non-normalized estimator on a finite series)
    rows = [(f"2024-01-01 {h:02d}:00:00", 1.0 if h % 2 == 0 else -1.0)
            for h in range(24)]
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = {r.lag: r for r in TS.acf(df, "ts", "value", lags=(1, 2)).collect()}
    assert out[1].n_pairs == 23 and out[2].n_pairs == 22
    assert out[1].acf == pytest.approx(-23 / 24, abs=1e-6)
    assert out[2].acf == pytest.approx(22 / 24, abs=1e-6)


def test_acf_matches_numpy(spark):
    import numpy as np
    from apache_flink_essentials_spark.operators import timeseries as TS

    vals = [round(math.sin(h / 3.0) * 10 + 50, 2) for h in range(48)]
    rows = [(f"2024-01-0{1 + h // 24} {h % 24:02d}:30:00", v)
            for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    x = np.array(vals)
    d = x - x.mean()
    den = (d * d).sum()
    out = {r.lag: r.acf
           for r in TS.acf(df, "ts", "value", lags=(1, 3, 6)).collect()}
    for k in (1, 3, 6):
        expect = (d[k:] * d[:-k]).sum() / den
        assert out[k] == pytest.approx(expect, abs=1e-6)


# ---- transform.global_prefix_sum ----------------------------------------

def test_global_prefix_sum_matches_window(spark, tmp_path, monkeypatch):
    from pyspark.sql.window import Window
    from apache_flink_essentials_spark import session
    from apache_flink_essentials_spark.operators.transform import (
        global_prefix_sum,
    )

    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", 0)

    # multi-file parquet input => the distributed two-phase path
    src = spark.range(0, 1000).select(
        F.col("id"), ((F.col("id") * 37) % 101).alias("v")
    ).repartition(8)
    path = str(tmp_path / "ps")
    src.write.parquet(path)
    df = spark.read.parquet(path)
    got = {
        r.id: r.running_total
        for r in global_prefix_sum(df, ["id"], "v").collect()
    }
    want = {
        r.id: r.w
        for r in df.withColumn(
            "w",
            F.sum("v").over(
                Window.orderBy("id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).collect()
    }
    assert got == want


# ---- curation.token_budget_select ---------------------------------------

def test_token_budget_select_greedy_prefix(spark):
    from apache_flink_essentials_spark.operators import curation as CU

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # 4 tokens, density 1.0
            (2, "a a a a a a"),      # 6 tokens, density 1/6
            (3, "x y z"),            # 3 tokens, density 1.0
            (4, "p q p q"),          # 4 tokens, density 0.5
        ],
        "doc_id long, text string",
    )
    rows = CU.token_budget_select(docs, 11, "doc_id", "text").collect()
    # selection order: doc 1 (d=1.0), doc 3 (d=1.0, id tiebreak),
    # doc 4 (0.5) -> cum 4, 7, 11; doc 2 would blow the budget
    assert [(r.doc_id, r.cum_tokens) for r in rows] == [
        (1, 4), (3, 7), (4, 11)
    ]


# ---- profiling.referential_audit ----------------------------------------

def test_referential_audit_counts(spark):
    from apache_flink_essentials_spark.operators import profiling as P

    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    dim = spark.createDataFrame([(10,), (20,)], "pk long")
    r = P.referential_audit([("fact.fk->dim", fact, "fk", dim, "pk")]) \
        .collect()[0]
    assert (r.relation, r.n_rows, r.n_null_fk, r.n_orphans) == (
        "fact.fk->dim", 4, 1, 1
    )


# ---- text.zipf_fit -------------------------------------------------------

def test_zipf_fit_matches_numpy(spark):
    import numpy as np
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [
            (1, "the the the the cat sat on the mat"),
            (2, "the cat ran and the dog sat"),
            (3, "a dog and a cat and a bird"),
        ],
        "doc_id long, text string",
    )
    r = X.zipf_fit(docs).collect()[0]
    # replicate: counts, rank by (cnt desc, term), ln-ln OLS
    from collections import Counter

    c = Counter(
        t for _, txt in [(1, docs)] for _ in ()
    )
    texts = ["the the the the cat sat on the mat",
             "the cat ran and the dog sat",
             "a dog and a cat and a bird"]
    c = Counter(t for s in texts for t in s.lower().split())
    items = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    lx = np.log(np.arange(1, len(items) + 1, dtype=float))
    ly = np.log(np.array([v for _, v in items], dtype=float))
    n = len(items)
    slope = (n * (lx * ly).sum() - lx.sum() * ly.sum()) / (
        n * (lx * lx).sum() - lx.sum() ** 2
    )
    assert r.n_terms == n
    assert r.total_tokens == sum(c.values())
    assert r.slope == pytest.approx(slope, abs=1e-6)
    assert r.slope < 0  # frequency falls with rank


def test_zipf_fit_max_rank_restricts_head(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "w1 w1 w1 w2 w2 w3 w4 w5")], "doc_id long, text string"
    )
    r = X.zipf_fit(docs, max_rank=2).collect()[0]
    assert r.n_terms == 2
    assert r.total_tokens == 5  # 3 + 2


# ---- streaming twin: trend_ols ------------------------------------------

def test_trend_power_sums_stream_equals_batch(spark):
    # complete-mode power-sum aggregate over a replayed event stream,
    # shifted to the group-min origin at finish == the batch trend_ols,
    # BIT-IDENTICAL doubles: sums are exact decimals, the shift is
    # integer algebra, and the closed form is shared code
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.timeseries import (
        ols_from_power_sums,
        trend_ols,
        trend_power_sums,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    agg = run_stream_to_df(
        trend_power_sums(stream_in, "event_type", "ts", "value"),
        output_mode="complete",
    )
    streamed = sorted(
        map(tuple, ols_from_power_sums(agg, "event_type").collect())
    )
    batch = sorted(
        map(tuple, trend_ols(events, "event_type", "ts", "value").collect())
    )
    assert streamed == batch and len(batch) > 0


# ---- text.term_burstiness / hapax_ratio ---------------------------------

def test_term_burstiness_counts(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b b"), (3, "c")],
        "doc_id long, text string",
    )
    rows = {r.term: r for r in X.term_burstiness(docs).collect()}
    # a: cf=4 over 2 docs -> 2.0; b: cf=3 over 2 docs -> 1.5; c: 1/1
    assert (rows["a"].cf, rows["a"].df, rows["a"].burstiness) == (4, 2, 2.0)
    assert (rows["b"].cf, rows["b"].df, rows["b"].burstiness) == (3, 2, 1.5)
    assert (rows["c"].cf, rows["c"].df, rows["c"].burstiness) == (1, 1, 1.0)


def test_hapax_ratio_by_source(spark):
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [(1, "x", "w1 w2 w2"), (2, "x", "w3"), (3, "y", "v v v")],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in X.hapax_ratio(docs).collect()}
    # source x: vocab {w1:1, w2:2, w3:1} -> 3 terms, 2 hapax
    assert (rows["x"].vocab_size, rows["x"].hapax_count) == (3, 2)
    assert rows["x"].hapax_ratio == 2 / 3
    assert (rows["y"].vocab_size, rows["y"].hapax_count) == (1, 0)


# ---- timeseries.seasonal_naive_eval -------------------------------------

def test_seasonal_naive_perfect_daily_cycle(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    # exact 24h periodic series: seasonal-naive error 0, lag-1 error > 0
    # -> mase == 0
    rows = [
        (f"2024-01-{1 + h // 24:02d} {h % 24:02d}:15:00",
         float(10 + (h % 24)))
        for h in range(96)
    ]
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    r = TS.seasonal_naive_eval(df, "ts", "value").collect()[0]
    assert r.n_pairs == 72
    assert r.mae == 0.0
    assert r.scale_mae > 0
    assert r.mase == 0.0


# ---- er entity clusters --------------------------------------------------

def test_er_entity_clusters_sizes(spark):
    from apache_flink_essentials_spark.operators import dedup as D

    # pairs {1-2, 2-3} and {7-8}: one 3-cluster + one 2-cluster
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    cc = D.connected_components(pairs, "id_a", "id_b")
    sizes = {
        r.cluster_size: r.n_clusters
        for r in cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .collect()
    }
    assert sizes == {3: 1, 2: 1}


# ---- graph.kcore ---------------------------------------------------------

def test_kcore_peels_pendants(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # K4 (nodes 1-4) plus pendant 5-1: the 2-core (and 3-core) is K4;
    # peeling the pendant must NOT remove node 1
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges.append((1, 5))
    df = spark.createDataFrame(edges, "a long, b long")
    core3 = {r.node: r.core_degree for r in G.kcore(df, 3).collect()}
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_chain_collapses(spark):
    from apache_flink_essentials_spark.operators import graph as G

    # a path has no 2-core: peeling cascades end to end
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    assert G.kcore(df, 2).count() == 0


def test_kcore_1core_is_whole_graph(spark):
    from apache_flink_essentials_spark.operators import graph as G

    df = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    assert G.kcore(df, 1).count() == 4


# ---- multimodal.exact_payload_dedup -------------------------------------

def test_multimodal_exact_dedup(spark):
    from apache_flink_essentials_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, "same bytes"), (2, "same bytes"), (3, "unique")],
        "doc_id long, text string",
    )
    rows = M.exact_payload_dedup(M.documents_as_media(docs)).collect()
    assert len(rows) == 1
    assert (rows[0].n_copies, rows[0].keep_id) == (2, 1)


def test_grouped_term_counts_stream_equals_batch_hapax(spark):
    # complete-mode (group, term) counts over a replayed document
    # stream, finished on read == the batch hapax_ratio exactly
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.text import (
        grouped_term_counts,
        hapax_from_term_counts,
        hapax_ratio,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(docs, num_files=3, order_by="doc_id")
    agg = run_stream_to_df(
        grouped_term_counts(stream_in), output_mode="complete"
    )
    streamed = sorted(map(tuple, hapax_from_term_counts(agg).collect()))
    batch = sorted(map(tuple, hapax_ratio(docs).collect()))
    assert streamed == batch and len(batch) > 0


# ---- profiling.join_size_audit ------------------------------------------

def test_join_size_audit_predicts_cardinality(spark):
    from apache_flink_essentials_spark.operators import profiling as P

    a = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], "k long"
    )
    b = spark.createDataFrame([(1,), (2,), (2,), (9,)], "k long")
    r = P.join_size_audit([("a*b@k", a, "k", b, "k")]).collect()[0]
    # key 1: 2*1=2; key 2: 1*2=2 -> join_rows 4, verified by executing
    assert (r.n_keys_common, r.join_rows, r.max_key_rows) == (2, 4, 2)
    assert r.skew_share == 2 / 4
    actual = a.where("k is not null").join(b, "k").count()
    assert actual == r.join_rows


def test_join_size_audit_empty_intersection(spark):
    from apache_flink_essentials_spark.operators import profiling as P

    a = spark.createDataFrame([(1,)], "k long")
    b = spark.createDataFrame([(2,)], "k long")
    r = P.join_size_audit([("a*b@k", a, "k", b, "k")]).collect()[0]
    assert (r.join_rows, r.max_key_rows, r.skew_share) == (0, 0, 0.0)


# ---- joins.golden_record -------------------------------------------------

def test_golden_record_survivorship_rules(spark):
    from apache_flink_essentials_spark.operators import joins as J

    members = spark.createDataFrame(
        [
            # component 1: rep=1; nation votes 5:2 vs 7:1 -> 5; max bal 9.0
            (1, 1, "alice", 5, 3.0),
            (1, 2, "alyce", 5, 9.0),
            (1, 3, "alice2", 7, 1.0),
            # component 10: tie 2:1 vs 4:1 -> smaller nation 2 wins
            (10, 10, "bob", 4, 2.0),
            (10, 11, "rob", 2, 5.0),
        ],
        "component long, node long, c_name string, c_nationkey int,"
        " c_acctbal double",
    )
    rows = {
        r.component: r
        for r in J.golden_record(
            members, "component", "node",
            first_by_rep={"golden_name": "c_name"},
            modal={"golden_nation": "c_nationkey"},
            maxed={"golden_acctbal": "c_acctbal"},
        ).collect()
    }
    r1 = rows[1]
    assert (r1.n_members, r1.rep_id, r1.golden_name) == (3, 1, "alice")
    assert r1.golden_nation == 5
    assert r1.golden_acctbal == 9.0
    r10 = rows[10]
    assert r10.golden_nation == 2  # vote tie -> smallest value
    assert r10.golden_name == "bob"


# ---- timeseries.km_gap_survival -----------------------------------------

def test_km_gap_survival_hand_computed(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    # one user, events at 0h,1h,2h,4h,30h: gaps 1h,1h,2h,26h(censored)
    rows = [(1, 1700000000 + h * 3600, i)
            for i, h in enumerate([0, 1, 2, 4, 30])]
    df = spark.createDataFrame(rows, "u long, sec long, eid long").select(
        "u", F.timestamp_seconds("sec").alias("ts"), "eid"
    )
    out = {r.t: r for r in
           TS.km_gap_survival(df, "u", "ts", "eid").collect()}
    # bucket 1: d=2, at risk 4 -> S = 1 - 2/4 = 0.5
    assert (out[1].n_at_risk, out[1].n_events) == (4, 2)
    assert out[1].survival == 0.5
    # bucket 2: d=1, at risk 2 -> S = 0.5 * (1 - 1/2) = 0.25
    assert (out[2].n_at_risk, out[2].n_events) == (2, 1)
    assert out[2].survival == 0.25
    # the 26h gap is censored at 24, never an event
    assert 24 not in out


def test_km_gap_survival_monotone_nonincreasing(spark, events):
    from apache_flink_essentials_spark.operators import timeseries as TS

    rows = TS.km_gap_survival(
        events, "user_id", "ts", "event_id"
    ).collect()
    surv = [r.survival for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(0 < s <= 1 for s in surv)


# ---- text.js_divergence_by_group ----------------------------------------

def test_js_divergence_identical_and_disjoint(spark):
    import math
    from apache_flink_essentials_spark.operators import text as X

    docs = spark.createDataFrame(
        [
            (1, "same", "a b c"),      # 'same' mirrors the corpus head…
            (2, "disj", "x x x"),      # …'disj' is fully disjoint from it
            (3, "same", "a b c"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r.jsd
            for r in X.js_divergence_by_group(docs).collect()}
    # a fully disjoint source approaches ln(2); the mirrored one stays
    # well below it
    assert rows["disj"] > rows["same"]
    assert rows["disj"] <= round(math.log(2), 6) + 1e-9
    assert rows["same"] >= 0


def test_countmin_grid_stream_matches_batch_estimates(spark):
    # complete-mode counter grid over a replayed stream: estimates for
    # the exact top-k items == the batch countmin_topk estimates, and
    # every estimate >= the true count (the CMS one-sided contract)
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.sketches import (
        countmin_estimate_from_grid,
        countmin_grid,
        countmin_topk,
    )
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    stream_in = replay_as_stream(events, num_files=3, order_by="ts")
    grid = run_stream_to_df(
        countmin_grid(stream_in, "user_id"), output_mode="complete"
    )
    batch = countmin_topk(events, "user_id", k=10).collect()
    ests = {
        r.item: r.est_count
        for r in countmin_estimate_from_grid(
            grid, events.select("user_id"), "user_id"
        ).collect()
    }
    for r in batch:
        assert ests[r.item] == r.est_count
        assert ests[r.item] >= r.true_count


# ---- patterns.diff_in_diff ----------------------------------------------

def test_diff_in_diff_hand_computed(spark):
    from apache_flink_essentials_spark.operators import patterns as PT

    # control (u1): 10 -> 12 (+2); treated (u2): 20 -> 27 (+7); did = +5
    rows = [
        (1, "2024-01-10 00:00:00", 10.0),
        (1, "2024-01-20 00:00:00", 12.0),
        (2, "2024-01-10 00:00:00", 20.0),
        (2, "2024-01-20 00:00:00", 27.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double") \
        .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    treated = spark.createDataFrame([(2,)], "user_id long")
    r = PT.diff_in_diff(
        df, "user_id", "ts", "value", treated, "2024-01-16 00:00:00"
    ).collect()[0]
    assert (r.pre_control, r.post_control) == (10.0, 12.0)
    assert (r.pre_treated, r.post_treated) == (20.0, 27.0)
    assert r.did == 5.0
    assert r.n_outcomes == 4


def test_seasonality_strength_pure_cycle(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    # a pure 24h cycle: residual variance ~0 -> strength ~1
    rows = [(f"2024-01-{1 + h // 24:02d} {h % 24:02d}:10:00",
             float(50 + (h % 24))) for h in range(96)]
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    r = TS.seasonality_strength(df, "ts", "value").collect()[0]
    assert r.n_bins == 96
    assert r.var_resid == 0.0
    assert r.strength == 1.0


def test_seasonality_strength_flatish_series(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    # alternating values with period 2 carry NO 24h structure beyond
    # phase parity; strength stays within [0, 1]
    rows = [(f"2024-01-{1 + h // 24:02d} {h % 24:02d}:10:00",
             10.0 if h % 2 else 20.0) for h in range(72)]
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    r = TS.seasonality_strength(df, "ts", "value").collect()[0]
    assert 0.0 <= r.strength <= 1.0
