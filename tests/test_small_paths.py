"""Driver small paths ≡ their distributed paths.

Connected components, both PageRanks, exact MMR, Theil-Sen and the
triangle census each solve inputs at or below `session.DRIVER_MAX_ROWS`
on the driver. Every test here runs an operator on its default (driver)
path, forces the distributed path by patching that one bound, and
requires the same result. A small path's result is shipped to the JVM
whole, so executing it runs no Python worker."""

import datetime
import itertools
import logging
import random

import pytest
from pyspark.sql import functions as F

from apache_flink_essentials_spark import session as S
from apache_flink_essentials_spark.operators import dedup as D
from apache_flink_essentials_spark.operators import graph as G
from apache_flink_essentials_spark.operators import timeseries as TS
from apache_flink_essentials_spark.operators import vector as V


def test_cc_driver_small_path_equals_distributed(spark, monkeypatch):
    # edge sets at/below the bound are solved on the driver (vectorized
    # min-label propagation). Pin that the small path and the distributed
    # star rounds produce the IDENTICAL relation on adversarial shapes: a
    # long chain (worst case for propagation), a star, duplicate/reversed
    # edges, self-loops, and disjoint pairs.
    rows = (
        [(i, i + 1) for i in range(40)]          # chain 0..40
        + [(100, x) for x in (101, 102, 103)]    # star
        + [(102, 100), (101, 100)]               # reversed dups
        + [(200, 200)]                           # self-loop (dropped)
        + [(300, 301), (302, 303)]               # disjoint pairs
    )
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    small = sorted(map(tuple, D.connected_components(df).collect()))
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", -1)  # force star rounds
    big = sorted(map(tuple, D.connected_components(df).collect()))
    assert small == big and small
    # chain collapses to min id 0; star to 100; pairs to their min
    comp = dict(small)
    assert comp[40] == 0 and comp[103] == 100 and comp[303] == 302
    assert 200 not in comp  # self-loops contribute no component

    # empty-edge relation: both paths return an empty (node, component)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", 2_000_000)
    assert D.connected_components(empty).count() == 0


def test_cc_gate_decision_is_logged(spark, monkeypatch, caplog):
    caplog.set_level(logging.INFO, logger=S.GATE_LOG.name)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7)], "id_a long, id_b long"
    )

    def cc_lines():
        lines = [r.getMessage() for r in caplog.records if r.args[0] == "cc"]
        caplog.clear()
        return lines

    D.connected_components(df).collect()
    assert cc_lines() == ["gate cc: rows=5 bound=2000000 path=driver"]
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", -1)
    D.connected_components(df).collect()
    assert cc_lines() == ["gate cc: rows=5 bound=-1 path=distributed"]


def test_pagerank_fixedpoint_driver_path_equals_distributed(spark, monkeypatch):
    # the driver small path must be BIT-identical to the distributed loop
    # (integer fixed-point arithmetic is order-free) — adversarial shape:
    # dangling nodes, a cycle, a hub, duplicate edges
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 5), (5, 4), (1, 2),
             (6, 7), (7, 8), (3, 9), (9, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    small = {(r.node, r.rank_fp)
             for r in G.pagerank_fixedpoint(df, iterations=5).collect()}
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", -1)
    dist = {(r.node, r.rank_fp)
            for r in G.pagerank_fixedpoint(df, iterations=5).collect()}
    assert small == dist and small


def test_pagerank_float_driver_path_equals_distributed(spark, monkeypatch):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (5, 5), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    small = {r.node: r.rank for r in G.pagerank(df, iterations=6).collect()}
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", -1)
    dist = {r.node: r.rank for r in G.pagerank(df, iterations=6).collect()}
    assert small.keys() == dist.keys()
    for k in small:  # float sums differ only in IEEE summation order
        assert small[k] == pytest.approx(dist[k], rel=1e-12)


def test_mmr_exact_driver_path_equals_distributed(spark, monkeypatch):
    # the driver-side greedy (default at test sizes) must be bit-identical
    # to the distributed unroll — force the unroll by disabling the driver
    # gate and compare every (query, rank, id, mmr_score), tie cases
    # included
    rows = [
        (1, 10, [1.0, 0.0, 0.0], 0.95),
        (1, 11, [0.999, 0.01, 0.0], 0.94),
        (1, 12, [0.0, 1.0, 0.0], 0.80),
        (1, 13, [0.0, 0.9, 0.4], 0.70),
        (1, 7, [0.0, 0.9, 0.4], 0.70),   # duplicate vector+score tie
        (2, 20, [1.0, 0.0, 0.0], 0.9),
        (2, 21, [0.0, 0.0, 1.0], 0.9),   # rank-1 score tie
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, neighbor_id long, embedding array<double>, cosine double",
    )
    driver = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.mmr_score)
        for r in V.mmr_diversify_exact(df, k=4, lam=0.5).collect()
    )
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", -1)
    unrolled = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.mmr_score)
        for r in V.mmr_diversify_exact(df, k=4, lam=0.5).collect()
    )
    assert driver == unrolled and driver


def _mk_events(spark, vals):
    t0 = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (t0 + datetime.timedelta(hours=i), float(v))
            for i, v in enumerate(vals)
        ],
        "ts timestamp, value double",
    )


def test_theilsen_two_path_equivalence(spark, monkeypatch):
    # the distributed (two-phase global_row_number) rank path must return
    # BIT-identical results to the driver path — same total order, same
    # middle-rank pick. Lower the bound so 36 bins (630 pairs) takes the
    # distributed branch instead of generating 2M+.
    vals = [3.0 * i + 7.0 + (50.0 if i == 11 else 0.0) for i in range(36)]
    df = _mk_events(spark, vals)
    small = TS.theilsen_trend(df, "ts", "value").collect()
    monkeypatch.setattr(S, "DRIVER_MAX_ROWS", 10)
    big = TS.theilsen_trend(df, "ts", "value").collect()
    assert [r.asDict() for r in small] == [r.asDict() for r in big]
    assert small[0]["n_bins"] == 36
    assert small[0]["n_pairs"] == 36 * 35 // 2
    # outlier-resistant: the single spiked bin must not drag the median
    assert abs(small[0]["slope_micro_per_bin"] - 3_000_000.0) < 1e-6


def _tri_both(spark, monkeypatch, rows, **kw):
    """(driver, distributed) results of triangle_stats: rows + schema."""
    e = G.undirected_edges(spark.createDataFrame(rows, "x long, y long"), "x", "y")
    driver = G.triangle_stats(e, **kw)
    with monkeypatch.context() as m:
        m.setattr(S, "DRIVER_MAX_ROWS", -1)
        dist = G.triangle_stats(e, **kw)
        dist_rows = dist.collect()
    return (driver.schema, driver.collect()), (dist.schema, dist_rows)


def _random_graph(n_nodes, n_edges, seed):
    rnd = random.Random(seed)
    return sorted({tuple(sorted(rnd.sample(range(n_nodes), 2)))
                   for _ in range(n_edges)})


def test_triangle_driver_path_equals_distributed(spark, monkeypatch):
    k4 = list(itertools.combinations(range(4), 2))
    path = [(i, i + 1) for i in range(8)]
    star_closure = [(0, i) for i in range(1, 7)] + [(1, 2), (3, 4)]
    # hub 100 (degree 6) is dropped by the cap; the leaf triangle stays
    hub = [(100, i) for i in range(1, 7)] + [(1, 2), (2, 3), (1, 3)]
    cases = [(k4, {}), (path, {}), (star_closure, {}),
             (hub, {"max_degree": 4}), ([], {}),
             (_random_graph(60, 300, seed=7), {})]
    rows_out = []
    for rows, kw in cases:
        driver, dist = _tri_both(spark, monkeypatch, rows, **kw)
        assert driver == dist, (rows, kw)
        rows_out.append(driver[1][0].asDict())
    assert [r["n_triangles"] for r in rows_out] == [4, 0, 2, 1, 0, 141]
    # K4 is fully clustered; the empty census keeps the NULL sums
    assert rows_out[0]["global_clustering"] == 1.0
    assert rows_out[4] == {"n_nodes": 0, "n_edges": None, "n_wedges": None,
                           "n_triangles": 0, "global_clustering": 0.0}


def test_triangle_driver_chunks_match_brute_force(spark, monkeypatch):
    import numpy as np

    rows = _random_graph(60, 400, seed=11)
    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(1 for u, v, w in itertools.combinations(sorted(adj), 3)
                if v in adj[u] and w in adj[u] and w in adj[v])
    ids, inv = np.unique(np.array(rows).T.ravel(), return_inverse=True)
    deg = np.bincount(inv).astype(np.int64)
    ia, ib = inv[: len(rows)], inv[len(rows):]
    # chunks of 1 and 7 wedges run the loop many times; the default once
    for chunk in (1, 7, G._TRI_CHUNK):
        monkeypatch.setattr(G, "_TRI_CHUNK", chunk)
        assert G._count_oriented_triangles(ia, ib, deg) == brute
    monkeypatch.setattr(G, "_TRI_CHUNK", 7)
    driver, dist = _tri_both(spark, monkeypatch, rows)
    assert driver == dist and driver[1][0].n_triangles == brute


def test_triangle_domain_error_on_both_paths(spark, monkeypatch):
    for rows in ([(1, 10**12), (1, 2)], [(-1, 2), (2, 3)]):
        e = G.undirected_edges(
            spark.createDataFrame(rows, "x long, y long"), "x", "y")
        for bound in (S.DRIVER_MAX_ROWS, -1):
            monkeypatch.setattr(S, "DRIVER_MAX_ROWS", bound)
            with pytest.raises(Exception, match="packed-order domain exceeded"):
                G.triangle_stats(e).collect()


def test_triangle_gate_decision_is_logged(spark, caplog):
    caplog.set_level(logging.INFO, logger=S.GATE_LOG.name)
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "a long, b long")
    G.triangle_stats(e).collect()
    assert [r.getMessage() for r in caplog.records if r.args[0] == "triangles"] \
        == ["gate triangles: rows=3 bound=2000000 path=driver"]


def test_small_path_results_run_no_python_worker(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "a long, b long")
    directed = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    pairs = edges.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    mmr_in = spark.createDataFrame(
        [(1, 10, [1.0, 0.0], 0.9), (1, 11, [0.0, 1.0], 0.8)],
        "query_id long, neighbor_id long, embedding array<double>, cosine double",
    )
    outputs = {
        "cc": D.connected_components(pairs),
        "cc empty": D.connected_components(pairs.limit(0)),
        "pagerank": G.pagerank(directed, iterations=2),
        "pagerank empty": G.pagerank(directed.limit(0), iterations=2),
        "pagerank_fixedpoint": G.pagerank_fixedpoint(directed, iterations=2),
        "mmr": V.mmr_diversify_exact(mmr_in, k=2, lam=0.5),
        "theilsen": TS.theilsen_trend(_mk_events(spark, [1.0, 3.0, 4.0]), "ts", "value"),
        "theilsen empty": TS.theilsen_trend(_mk_events(spark, [1.0]), "ts", "value"),
        "triangles": G.triangle_stats(edges),
        "triangles empty": G.triangle_stats(edges.limit(0)),
    }
    lineage = {k: df._jdf.queryExecution().toRdd().toDebugString()
               for k, df in outputs.items()}
    assert [k for k, text in lineage.items() if "PythonRDD" in text] == []
    assert outputs["triangles"].first().n_triangles == 1


def _python_rdd_leaves(df):
    """Leaves of ``df``'s physical plan whose RDD lineage holds a
    PythonRDD; unlike ``toRdd`` this also sees broadcast build sides."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())
            if "PythonRDD" in leaves.apply(i).execute().toDebugString()]


def test_driver_built_plan_inputs_run_no_python_worker(spark, monkeypatch):
    # lag tables, quantile lists, vocabulary sizes, PQ distance tables
    # and the salted join's hot keys are computed on the driver and
    # shipped as one Arrow table
    # (`session.driver_frame`); the inputs are parquet, so any PythonRDD
    # in an output's plan comes from the operator
    from conftest import SF_SMOKE as sf

    from apache_flink_essentials_spark.io import load_table
    from apache_flink_essentials_spark.operators import sketches as SK
    from apache_flink_essentials_spark.operators import skew
    from apache_flink_essentials_spark.operators import text as X

    events = load_table(spark, "events", sf)
    emb = load_table(spark, "embeddings", sf)
    books = V.pq_fit(emb, m=4, k=8, iters=1, dim=64)
    cents = V.kmeans_fit(emb, k=4, iters=1, dim=64)
    q = emb.filter(F.col("vec_id") < 3)
    monkeypatch.setattr(skew, "SALT_THRESHOLD", 1)  # every user is hot
    monkeypatch.setattr(skew, "SALT_MAX_INLINE_HOT", 0)  # broadcast hot keys
    users = events.select("user_id", F.col("event_id").alias("id_a"))
    outputs = {
        "lag_correlation": TS.lag_correlation(events, "ts", "event_type", "view", "click"),
        "acf": TS.acf(events, "ts", "value"),
        "portable_quantile_bands": SK.portable_quantile_bands(events, "value"),
        "grouped_quantile_bands": SK.grouped_quantile_bands(events, "value", ["event_type"]),
        "coverage_from_counts": X.coverage_from_counts(
            X.token_counts(load_table(spark, "documents", sf))),
        "pq_search": V.pq_search(emb, q, books),
        "ivfpq_search": V.ivfpq_search(emb, q, cents, books),
        "salted join, broadcast hot keys": skew.hot_bucket_salted_join(
            users, users, "user_id"),
    }
    assert {k: _python_rdd_leaves(df) for k, df in outputs.items()} \
        == {k: [] for k in outputs}
    assert all(df.count() > 0 for df in outputs.values())
