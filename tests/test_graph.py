"""PageRank semantics pinned against a pure-Python reference on
hand-built graphs (iterative float algorithm → rows-only in the driver
gate, exact semantics asserted here, SURVEY §5)."""

import pytest

from apache_flink_essentials_spark.operators import graph as G


def _py_pagerank(edges, iterations=10, d=0.85):
    out = {}
    nodes = set()
    for s, t in edges:
        nodes.add(s)
        nodes.add(t)
        out.setdefault(s, set()).add(t)
    n = len(nodes)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        base = (1.0 - d) / n + d * dangling / n
        nxt = {v: base for v in nodes}
        for s, ts in out.items():
            share = ranks[s] / len(ts)
            for t in ts:
                nxt[t] += d * share
        ranks = nxt
    return ranks


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.rank for r in G.pagerank(df, **kw).collect()}


def test_pagerank_matches_reference_model(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1)]
    got = _run(spark, edges, iterations=10)
    want = _py_pagerank(edges, iterations=10)
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # 3 has two in-links incl. the hub — must outrank everyone
    assert got[3] == max(got.values())


def test_pagerank_dangling_mass_redistributed(spark):
    # 2 is a sink: its mass must be spread, ranks still sum to 1
    edges = [(1, 2), (3, 2)]
    got = _run(spark, edges, iterations=7)
    want = _py_pagerank(edges, iterations=7)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    assert got[2] == max(got.values())


def test_pagerank_duplicate_edges_collapse(spark):
    # duplicate edge rows must not double an edge's weight
    got = _run(spark, [(1, 2), (1, 2), (2, 1)], iterations=5)
    want = _py_pagerank([(1, 2), (2, 1)], iterations=5)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9)


def _py_pagerank_fp(edges, iterations=5, scale=10**12):
    out = {}
    nodes = set()
    for s, t in set(edges):
        nodes.add(s)
        nodes.add(t)
        out.setdefault(s, set()).add(t)
    n = len(nodes)
    ranks = {v: scale // n for v in nodes}
    base = (15 * scale) // (100 * n)
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        nxt = {v: base + (85 * dangling) // (100 * n) for v in nodes}
        for s, ts in out.items():
            share = (85 * ranks[s]) // (100 * len(ts))
            for t in ts:
                nxt[t] += share
        ranks = nxt
    return ranks


def test_pagerank_fixedpoint_bit_exact_vs_model(spark):
    # int64 fixed-point variant: EXACT equality (not approx) — the whole
    # point of the integer form is bit-exactness under any shuffle order
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_fp for r in G.pagerank_fixedpoint(df).collect()}
    want = _py_pagerank_fp(edges)
    assert got == want


def test_pagerank_fixedpoint_tracks_float_ranks(spark):
    # quantization error vs the float form is bounded: ≤ 1e-6 relative
    # on a small graph at scale=1e12
    edges = [(1, 2), (1, 3), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fp = {r.node: r.rank_fp / 1e12
          for r in G.pagerank_fixedpoint(df, iterations=5).collect()}
    fl = {r.node: r.rank
          for r in G.pagerank(df, iterations=5).collect()}
    for v in fl:
        assert fp[v] == pytest.approx(fl[v], abs=1e-6)


def test_degree_distribution_dedups_multi_edges(spark):
    from apache_flink_essentials_spark.operators.graph import (
        degree_distribution,
    )

    edges = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 11), (2, 10), (3, 12)],  # (1,10) repeated
        "src long, dst long",
    )
    out = {(r.side, r.degree): r.n_nodes for r in degree_distribution(edges).collect()}
    # out-degrees: node1 -> 2, node2 -> 1, node3 -> 1
    assert out[("src", 2)] == 1 and out[("src", 1)] == 2
    # in-degrees: 10 <- 2 (deduped), 11 <- 1, 12 <- 1
    assert out[("dst", 2)] == 1 and out[("dst", 1)] == 2
