"""Iterative graph analytics: fixed-iteration PageRank.

Companion to the connected-components operator in `dedup.py` (large-star /
small-star): where CC canonicalizes near-duplicate clusters, PageRank ranks
nodes by link structure — the classic "iterative algorithm the engine must
express without a driver-side loop over collect()". The reference has no
graph surface; this is north-star breadth for corpus-graph curation
(domain authority for web-crawl filtering).

Execution shape per iteration (the part that must survive 100 TB):

  * edges are deduplicated, repartitioned ONCE on ``src`` and cached —
    every iteration's join reuses that partitioning, so each round pays
    ONE exchange (ranks → src hash) + ONE aggregation exchange (contribs →
    dst hash); the edge table itself never moves again.
  * dangling mass (nodes with no out-edges) is a one-row aggregate that
    broadcast-cross-joins onto the rank update — it never leaves the
    cluster, so each iteration is ONE job (the eager checkpoint), with no
    per-iteration driver round-trip.
  * ``localCheckpoint`` per iteration truncates lineage so the physical
    plan stays O(1) per round instead of O(iterations) (same pattern as
    `dedup.connected_components`).

Results are plain doubles; summation order across partitions makes the
last ulp partitioning-dependent, so PageRank is registered rows-only (the
driver's weaker check) and its semantics are pinned by hand-computed
pytest fixtures at rtol 1e-9 — the honest contract for iterative float
algorithms (SURVEY §5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_flink_essentials_spark.session import (
    driver_frame,
    driver_small_path,
    loop_conf,
    loop_partitions,
)


def _pagerank_edges(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, int]:
    """Null-filtered RAW edge relation + its measured count (the count
    also materializes the persist). Deduplication happens downstream —
    on the driver (pandas drop_duplicates) for the small path, so the
    small path never pays a Spark-side distinct shuffle, and as a
    ``distinct()`` in the distributed preamble. The raw count gates the
    small path (conservative: raw ≥ distinct, and it bounds the collect
    size)."""
    raw = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .persist()
    )
    return raw, raw.count()


def _pagerank_driver(
    raw: DataFrame, n_edges: int, rank_col: str, rank_type: str, solve
) -> DataFrame:
    """Driver small path shared by both PageRanks (the
    `_cc_driver_small_path` precedent): collect the raw edge list
    (bounded by `session.DRIVER_MAX_ROWS`), dedup and index it on the
    driver, and return ``(node, <rank_col>)`` with the ranks
    ``solve(n, asrc, adst, outdeg, dang)`` computes — ``asrc``/``adst``
    are per-edge indices into the ``n`` sorted-unique node ids,
    ``dang`` flags nodes without out-edges."""
    import numpy as np

    spark = raw.sparkSession
    node_type = raw.schema["src"].dataType.simpleString()
    schema = f"node {node_type}, {rank_col} {rank_type}"
    if n_edges == 0:
        return driver_frame(spark, {"node": [], rank_col: []}, schema)
    pdf = raw.toPandas().drop_duplicates()
    vals = np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()])
    ids, inv = np.unique(vals, return_inverse=True)
    asrc, adst = inv[: len(pdf)], inv[len(pdf):]
    outdeg = np.bincount(asrc, minlength=len(ids)).astype(np.int64)
    ranks = solve(len(ids), asrc, adst, outdeg, outdeg == 0)
    return driver_frame(spark, {"node": ids, rank_col: ranks}, schema)


def _pagerank_setup(
    e0: DataFrame, m: int
) -> tuple[DataFrame, DataFrame, int, int, list]:
    """Distributed-loop preamble (r13, the CC loop discipline — guide
    §2.4/§5): measure |V|, then build the two LOOP-STATIC relations so
    that every iteration is pure merge work over partitionings/orderings
    established here ONCE:

      * ``e2`` — the edge table WITH its source's out-degree attached
        (outdeg never changes, so the per-iteration ranks⋈outdeg join
        the r12 shape paid — twice, counting the dangling branch — is
        paid once, here), hash-partitioned AND sorted on ``src``;
      * ``base`` — one row per node with a static ``_dang`` flag (no
        out-edges), hash-partitioned and sorted on ``node``; the rank
        relation inherits both through every iteration (localCheckpoint
        preserves partitioning and ordering), so the dangling mass is a
        FILTER over the rank table instead of a join.

    Partition count derives from the measured max(|E|, |V|)
    (`loop_partitions`), capped at the session setting.
    Returns ``(e2, base, n, loop_sp, cleanup)``; unpersist each frame in
    ``cleanup`` when done."""
    sess = e0.sparkSession
    sp_old = int(sess.conf.get("spark.sql.shuffle.partitions"))
    e0 = e0.distinct().persist()  # raw → canonical (see _pagerank_edges)
    nodes0 = (
        e0.select(F.col("src").alias("node"))
        .union(e0.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes0.count()
    loop_sp = loop_partitions(sp_old, max(n, m))
    outdeg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e2 = (
        e0.repartition(loop_sp, "src")
        .join(outdeg, "src")
        # explicit sort (not an SMJ side effect — the planner may pick a
        # broadcast join here): the cached ordering is what lets every
        # iteration's contribs join run as a sort-free merge
        .sortWithinPartitions("src")
        .persist()
    )
    base = (
        nodes0.repartition(loop_sp, "node")
        .join(
            outdeg.select(
                F.col("src").alias("node"), F.lit(True).alias("_hasout")
            ),
            "node",
            "left",
        )
        .select("node", F.col("_hasout").isNull().alias("_dang"))
        .sortWithinPartitions("node")
        .persist()
    )
    return e2, base, n, loop_sp, [e0, nodes0, e2, base]


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list → ``(node, rank)``.

    Uniform initial rank 1/N; per iteration
    ``rank(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u) + dangling/N)``
    where ``dangling`` is the rank mass sitting on nodes without
    out-edges. Ranks sum to 1 every iteration (asserted in tests).
    """
    e0, m = _pagerank_edges(edges, src_col, dst_col)
    if driver_small_path("pagerank", m):
        # float sums differ from the distributed loop only in IEEE
        # summation order (rows-only by contract, rtol-1e-9 fixtures)
        def solve(n, asrc, adst, outdeg, dang):
            import numpy as np

            od_src = outdeg[asrc].astype(np.float64)
            r = np.full(n, 1.0 / n, dtype=np.float64)
            for _ in range(iterations):
                agg = np.zeros(n, dtype=np.float64)
                np.add.at(agg, adst, r[asrc] / od_src)
                r = ((1.0 - damping) / n + damping * float(r[dang].sum()) / n
                     + damping * agg)
            return r

        out = _pagerank_driver(e0, m, "rank", "double", solve)
        e0.unpersist()
        return out
    e2, base, n, loop_sp, cleanup = _pagerank_setup(e0, m)
    cleanup.append(e0)

    ranks = base.withColumn("rank", F.lit(1.0 / n))

    with loop_conf(edges.sparkSession, loop_sp):
        for _ in range(iterations):
            # dangling mass: a FILTER over the rank table (the _dang flag
            # is loop-static) feeding a one-row aggregate that broadcast-
            # cross-joins onto the rank update — one job per iteration
            # (the eager localCheckpoint), no driver round-trip
            dangling = ranks.filter(F.col("_dang")).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
            )
            contribs = (
                e2.join(ranks, e2["src"] == ranks["node"])
                .select(F.col("dst"), (F.col("rank") / F.col("outdeg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            ranks = (
                ranks.join(contribs, ranks["node"] == contribs["dst"], "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    "_dang",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping) * F.col("_dangling") / F.lit(float(n))
                     + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                     ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )

    for d in cleanup:
        d.unpersist()
    return ranks.select("node", "rank")


def pagerank_fixedpoint(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank in int64 fixed-point micro-units → ``(node, rank_fp)``.

    Same structure as :func:`pagerank` but every quantity is an integer
    multiple of ``1/scale`` and every division floors:

      ``rank(v) = (15*scale) div (100*n)
                  + (85 * dangling) div (100 * n)
                  + Σ_{u→v} (85 * rank(u)) div (100 * outdeg(u))``

    Integer addition is associative and commutative, so the result is
    BIT-EXACT under any shuffle/summation order — unlike the float form,
    this variant is fully oracle-checkable (the DuckDB twin unrolls the
    same iterations as CTE stages). The quantization error vs true
    PageRank is ≤ iterations·outdeg ulps of 1/scale — irrelevant for
    ranking/filtering use, and the price of exact reproducibility across
    engines and cluster layouts. Damping fixed at 85/100.

    Scale shape is identical to :func:`pagerank`: edges deduped +
    repartitioned once, two exchanges per iteration, one-row dangling
    aggregate broadcast back, localCheckpoint keeps the plan O(1)/round.
    Overflow headroom: rank ≤ scale = 1e12, ×85 ≈ 8.5e13 ≪ 2^63.
    """
    e0, m = _pagerank_edges(edges, src_col, dst_col)
    if driver_small_path("pagerank_fixedpoint", m):
        # int64 floor divisions and order-free integer sums: the numpy
        # replay is BIT-IDENTICAL to the distributed loop (pinned by test)
        def solve(n, asrc, adst, outdeg, dang):
            import numpy as np

            od_src = outdeg[asrc]
            base = (15 * scale) // (100 * n)
            r = np.full(n, scale // n, dtype=np.int64)
            for _ in range(iterations):
                d_mass = int(r[dang].sum())  # total mass ≤ scale
                agg = np.zeros(n, dtype=np.int64)
                np.add.at(agg, adst, (85 * r[asrc]) // (100 * od_src))
                r = base + (85 * d_mass) // (100 * n) + agg
            return r

        out = _pagerank_driver(e0, m, "rank_fp", "bigint", solve)
        e0.unpersist()
        return out
    e2, nbase, n, loop_sp, cleanup = _pagerank_setup(e0, m)
    cleanup.append(e0)

    base = int(15 * scale) // (100 * n)
    ranks = nbase.withColumn(
        "rank_fp", F.lit(int(scale) // n).cast("long")
    )

    with loop_conf(edges.sparkSession, loop_sp):
        for _ in range(iterations):
            dangling = ranks.filter(F.col("_dang")).agg(
                F.coalesce(F.sum("rank_fp"), F.lit(0)).cast("long")
                .alias("_dangling")
            )
            contribs = (
                e2.join(ranks, e2["src"] == ranks["node"])
                .select(
                    F.col("dst"),
                    # positive int64 `div` == floor division on both engines
                    F.expr("(85 * rank_fp) div (100 * outdeg)").alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").cast("long").alias("contrib"))
            )
            ranks = (
                ranks.join(contribs, ranks["node"] == contribs["dst"], "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    "_dang",
                    (F.lit(base).cast("long")
                     + F.expr(f"(85 * _dangling) div (100 * {n})")
                     + F.coalesce(F.col("contrib"), F.lit(0)).cast("long")
                     ).cast("long").alias("rank_fp"),
                )
                .localCheckpoint(eager=True)
            )

    for d in cleanup:
        d.unpersist()
    return ranks.select("node", "rank_fp")


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Degree histogram of a (src, dst) edge list — the first thing to
    read before running ANY iterative graph algorithm at scale: the max
    out/in degree bounds the hottest join partition in every pagerank /
    label-propagation / CC superstep, and a power-law tail is the cue to
    salt or cap (the same hot-key story as the dedup tier's bucket caps).

    Edges are deduplicated first (multi-edges inflate degrees); output is
    (side 'src'|'dst', degree, n_nodes) — the distribution, not the
    per-node table, so the result is aggregate-sized at any graph size.

    Scale: one distinct shuffle on the edge pair, then ONE (side, node)
    hash agg over a per-row explode of both endpoints and one
    degree-histogram agg — a single linear chain, all keyed, all
    map-side combined. (Two rejected shapes, both measured slower at
    bench scale: per-side groupBy branches compute the distinct subtree
    twice; folding the dedup into a per-(side, node) count_distinct
    doubles the rows BEFORE any dedup and plans the distinct-aggregate
    double exchange — 1.86 s vs 0.82 s.)
    """
    e = edges.select("src", "dst").distinct()
    sides = e.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("src").alias("side"), F.col("src").alias("node")
                ),
                F.struct(
                    F.lit("dst").alias("side"), F.col("dst").alias("node")
                ),
            )
        ).alias("_s")
    ).select("_s.side", "_s.node")
    return (
        sides.groupBy("side", "node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("side", "degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("side", "degree")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph
    (Newman '02 "Assortative mixing in networks", public paper) → ONE
    row ``(n_nodes, n_edges, assortativity)``: the Pearson correlation
    of endpoint degrees across edges. Positive = hubs link to hubs
    (social-graph shape), negative = hubs link to leaves
    (infrastructure/star shape) — THE one-number read on whether
    degree-targeted mitigations (hub caps, salting) will bite, taken
    BEFORE any iterative algorithm runs.

    Input: canonical edge list from :func:`undirected_edges` (``a < b``,
    distinct, no self-loops).

    Portability: each undirected edge contributes BOTH orientations
    (the standard symmetrized form — Sx = Sy by construction), every
    moment (Σx, Σxy, Σx²) is an exact integer sum of BIGINT degree
    products carried in DECIMAL(38,0), and the coefficient is ONE
    fixed-order double expression of those exact operands — registered
    unrounded (the `trend_ols` convention). Degenerate regular graphs
    (zero degree variance) return NULL, surfaced rather than 0-coerced.

    Scale: one degree hash-agg on the exploded endpoints, two slim
    joins to attach (deg_a, deg_b) per edge — broadcast when the degree
    table is small, shuffle-keyed otherwise — then a one-row aggregate.
    No step sees more than |E| rows. The edge relation is
    lazy-checkpointed (the `triangle_stats` convention): three branches
    read it — the degree union twice, the pairing once — and an
    upstream edge DERIVATION (a co-occurrence join, a dedup) must run
    once, not three times.
    """
    e = edges.select("a", "b").localCheckpoint(eager=False)
    # the degree table is read three times (two join sides + the node
    # total) — checkpoint it too, so the union-agg runs once
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    paired = (
        e.join(deg.select(F.col("node").alias("a"),
                          F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("degree").alias("db")), "b")
        .select(
            F.col("da").cast("decimal(38,0)").alias("da"),
            F.col("db").cast("decimal(38,0)").alias("db"),
        )
    )
    # symmetrized moments: both orientations of every edge, as exact sums
    sums = paired.agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.col("da") + F.col("db")).alias("_sx"),
        F.sum(F.lit(2).cast("decimal(38,0)") * F.col("da") * F.col("db"))
        .alias("_sxy"),
        F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db"))
        .alias("_sxx"),
    )
    totals = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    m2 = (F.lit(2).cast("decimal(38,0)") * F.col("_m")).cast("double")
    sx = F.col("_sx").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    num = m2 * sxy - sx * sx
    den = m2 * sxx - sx * sx
    return (
        sums.crossJoin(F.broadcast(totals))
        .select(
            "n_nodes",
            F.col("_m").cast("long").alias("n_edges"),
            F.when(den != F.lit(0.0), num / den).alias("assortativity"),
        )
    )


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int | None = None,
) -> DataFrame:
    """Distinct canonical undirected co-occurrence edge list ``(a, b)``
    (``a < b``) from a ``(group, item)`` relation: two items are linked
    iff they share a group (e.g. parts co-purchased in one order).

    Shape: ONE groupBy collapses each group into a sorted distinct item
    array (``collect_set`` dedups in-task, so the input needs no
    up-front distinct), pairs are enumerated IN-TASK from each array
    (``a < b`` falls out of the sort), then one distinct canonicalizes
    across groups — 2 shuffles total. The self-join formulation this
    replaces (li ⋈ li on group + filter + distinct) paid 3 shuffles and
    materialized both join sides; at sf0.1 this build measures ~1.05 s
    vs ~1.43 s for the join form (round-11 bench).

    Scale: a group with m distinct items emits C(m,2) pairs in-task —
    at 100 TB set ``max_group_size`` (the hot-block cap idiom, see
    SCALING.md): groups above the cap are dropped BEFORE enumeration
    (documented under-count of edges through mega-groups, which carry
    little co-occurrence signal anyway — same recall trade as the dedup
    tier's bucket caps).
    """
    adj = (
        df.filter(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(group_col)
        .agg(F.array_sort(F.collect_set(item_col)).alias("_items"))
    )
    if max_group_size is not None:
        adj = adj.filter(F.size("_items") <= max_group_size)
    return (
        adj.select(
            F.explode(
                F.expr(
                    "flatten(transform(_items, (x, i) -> "
                    "transform(slice(_items, i + 2, size(_items)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("_p")
        )
        .select("_p.a", "_p.b")
        .distinct()
    )


def undirected_edges(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Canonicalize a pair relation into a distinct undirected edge list
    ``(a, b)`` with ``a < b`` — self-loops and duplicate/reversed pairs
    dropped. One distinct shuffle; the normal front door for
    :func:`triangle_stats`."""
    a, b = F.col(a_col), F.col(b_col)
    return (
        df.filter(a.isNotNull() & b.isNotNull() & (a != b))
        .select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .distinct()
    )


# Packed-order domain of `triangle_stats`: node ids in [0, 10^12) and
# degrees below 9·10^6, so ``degree * 10^12 + node`` neither collides nor
# overflows a BIGINT. Both paths enforce it with the same error.
_TRI_ID_BOUND = 10**12
_TRI_DEG_BOUND = 9 * 10**6
_TRI_DOMAIN_MSG = (
    "triangle_stats packed-order domain exceeded: "
    "requires 0 <= node id < 10^12 and degree < 9*10^6"
)
# Oriented wedges the driver triangle count tests per step: its working
# set is a few int64 arrays of this length, whatever the degrees.
_TRI_CHUNK = 1 << 20


def _tri_guard(ok: Column) -> Column:
    """0 while ``ok`` holds; otherwise fails the job with
    `_TRI_DOMAIN_MSG`. The assert is coalesced into a BIGINT term that
    callers add to an output column, so column pruning can't drop it:
    ``assert_true`` yields NULL when the bound holds and raises
    otherwise."""
    return F.coalesce(
        F.assert_true(ok, F.lit(_TRI_DOMAIN_MSG)).cast("long"),
        F.lit(0).cast("long"),
    )


def _tri_census(counts: DataFrame) -> DataFrame:
    """The one-row `triangle_stats` result from ``(n_nodes, n_edges,
    n_wedges, n_triangles)``: appends ``global_clustering`` in the JVM,
    so both paths produce the same double and the same schema."""
    return counts.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        F.when(F.col("n_wedges") > 0,
               F.lit(3).cast("long") * F.col("n_triangles")
               / F.col("n_wedges"))
        .otherwise(F.lit(0.0)).alias("global_clustering"),
    )


def _count_oriented_triangles(ia, ib, deg) -> int:
    """Triangles of the undirected edges ``(ia[k], ib[k])`` over nodes
    ``0..len(deg)-1`` with degrees ``deg`` (node index order = id
    order): the distributed path's degree-ordered orientation, counted
    in numpy. Each edge points from the lower to the higher rank in the
    (degree, id) order; every triangle is then exactly one oriented
    wedge ``v → w1, v → w2`` (w1 < w2) closed by the edge ``w1 → w2``.
    The oriented edges, sorted on ``src·n + dst``, are both the CSR
    adjacency and the membership index (``searchsorted``). Wedges are
    enumerated `_TRI_CHUNK` at a time, in CSR order."""
    import numpy as np

    n, m = len(deg), len(ia)
    rank = np.empty(n, dtype=np.int64)
    rank[np.argsort(deg, kind="stable")] = np.arange(n)
    ra, rb = rank[ia], rank[ib]
    keys = np.sort(np.minimum(ra, rb) * n + np.maximum(ra, rb))
    src, dst = keys // n, keys % n
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=n), out=indptr[1:])
    # wedges opened by edge k: the out-edges after it in src's list
    opened = indptr[src + 1] - np.arange(m) - 1
    done = np.cumsum(opened)
    n_tri, lo = 0, 0
    while lo < m:
        # the edges whose wedges fit one chunk (at least one edge)
        hi = max(
            int(np.searchsorted(done, done[lo] - opened[lo] + _TRI_CHUNK,
                                side="right")),
            lo + 1,
        )
        c = opened[lo:hi]
        k = np.repeat(np.arange(lo, hi), c)
        j = k + 1 + np.arange(len(k)) - np.repeat(np.cumsum(c) - c, c)
        q = dst[k] * n + dst[j]
        pos = np.minimum(np.searchsorted(keys, q), m - 1)
        n_tri += int(np.count_nonzero(keys[pos] == q))
        lo = hi
    return n_tri


def _triangle_driver(e: DataFrame, n_edges: int) -> DataFrame:
    """Driver small path of :func:`triangle_stats` for edge sets within
    `session.DRIVER_MAX_ROWS`: collect the (checkpointed) edges as Arrow
    and count in numpy (`_count_oriented_triangles`). The counts go back
    with a declared schema through `session.driver_frame`, so no Python
    worker runs when the row executes. Matches the distributed row
    exactly: NULL ``n_edges``/``n_wedges`` on empty input (SUM over no
    rows), the same nullability, and the same packed-order domain
    error."""
    import numpy as np

    nodes, tri, ok = 0, 0, True
    edges_n = wedges = None
    if n_edges:
        t = e.toArrow()
        m = t.num_rows
        ids, inv = np.unique(
            np.concatenate([t.column("a").to_numpy(),
                            t.column("b").to_numpy()]),
            return_inverse=True,
        )
        deg = np.bincount(inv).astype(np.int64)
        nodes, edges_n = len(ids), int(deg.sum()) // 2
        wedges = int((deg * (deg - 1) // 2).sum())
        ok = bool(ids[0] >= 0 and ids[-1] < _TRI_ID_BOUND
                  and deg.max() < _TRI_DEG_BOUND)
        if ok:
            tri = _count_oriented_triangles(inv[:m], inv[m:], deg)
    counts = driver_frame(
        e.sparkSession,
        {"n_nodes": [nodes], "n_edges": [edges_n],
         "n_wedges": [wedges], "n_triangles": [tri]},
        "n_nodes bigint not null, n_edges bigint, n_wedges bigint, "
        "n_triangles bigint not null",
    )
    return _tri_census(counts.select(
        (F.col("n_nodes") + _tri_guard(F.lit(ok))).alias("n_nodes"),
        "n_edges", "n_wedges", "n_triangles",
    ))


def triangle_stats(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Global triangle census of an undirected graph → ONE row
    ``(n_nodes, n_edges, n_wedges, n_triangles, global_clustering)``.

    Input: canonical edge list from :func:`undirected_edges` (``a < b``,
    distinct, no self-loops).

    Algorithm (the MapReduce-classic degree-ordered orientation of
    Suri & Vassilvitskii '11 "Counting Triangles and the Curse of the
    Last Reducer", WWW — public paper): orient every edge from the
    endpoint that is SMALLER in the total order (degree, node) to the
    larger one. Every triangle then has exactly one node with out-edges
    to both others, so ``n_triangles = Σ_{(u,v) oriented}
    |N+(u) ∩ N+(v)|`` — the EDGE-ITERATOR count: per-node sorted
    out-adjacency arrays join back onto the oriented edges and the
    intersection size is computed in-task (``array_intersect``), so the
    C(outdeg,2) wedge-candidate relation is never materialized or
    shuffled (the round-11 rewrite; the prior wedge-self-join +
    semi-join form shuffled ~12.5 M wedge rows at sf0.1 and measured
    ~0.7 s slower). Orientation bounds the out-degree by O(sqrt(m)) on
    any graph, killing the hub-node m² blowup that id-ordering suffers
    on star graphs, and bounds every adjacency array the same way.

    The (degree, node) order is packed into one BIGINT
    ``degree * 10^12 + node`` so the orientation comparison, the wedge
    self-join and the closing-edge join all run on a single primitive
    key. Domain bounds (node ids < 10^12, degrees < 9·10^6 so the
    packed key can't collide or overflow a BIGINT) are ENFORCED inline:
    the packed expression carries an ``assert_true`` term that fails
    the job with an explicit message on out-of-domain ids, instead of
    silently corrupting the order key.

    ``max_degree`` drops nodes above a degree cap BEFORE orientation —
    the hot-block cap idiom (see SCALING.md): a 10^6-degree hub alone
    contributes up to 10^12 wedge candidates; capped results are a
    documented under-count of triangles THROUGH dropped hubs.

    Two paths, one row. The (capped) edge list is lazily checkpointed
    and counted; that count is the ``triangles`` gate
    (`session.driver_small_path`). At or below `session.DRIVER_MAX_ROWS`
    edges the DRIVER path collects the edges and counts the same
    oriented wedges in numpy (`_triangle_driver`): three jobs (count,
    collect, the one-row result) instead of the distributed plan's
    joins and exchanges. Its wedges are tested `_TRI_CHUNK` at a time,
    so its working memory stays a few arrays of that length plus the
    O(|E|) edge arrays, however dense the graph; its time is
    O(Σ C(outdeg, 2) · log |E|) — about 1.3·10^9 wedge probes for a
    2000-clique at the bound. Above the bound the DISTRIBUTED path
    below runs.

    Scale (distributed path): degrees = one hash agg on the exploded
    endpoints; orientation = two broadcast-or-shuffle joins of the slim
    (node, ord) relation (AQE converts to broadcast when the node
    relation fits); adjacency build = one |E|-row groupBy; the intersect
    joins carry Σ outdeg = |E| array elements per side — strictly less
    data than the wedge relation they replace. All aggregates map-side
    combined; output is one row.

    ``global_clustering = 3 * n_triangles / n_wedges`` is a ratio of two
    BIGINTs — bit-identical across engines (no rounding needed).
    """
    e = edges.select("a", "b")
    if max_degree is not None:
        deg0 = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") <= max_degree)
            .drop("_d")
        )
        e = e.join(
            deg0.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(deg0.withColumnRenamed("node", "b"), "b", "left_semi")
        e = e.select("a", "b")
    e = e.localCheckpoint(eager=False)
    n = e.count()  # materializes the checkpoint for either path
    if driver_small_path("triangles", n):
        return _triangle_driver(e, n)

    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # the guard is folded INTO the packed key
    _guard = _tri_guard(
        (F.col("node").cast("long") < F.lit(_TRI_ID_BOUND))
        & (F.col("node").cast("long") >= 0)
        & (F.col("degree").cast("long") < F.lit(_TRI_DEG_BOUND))
    )
    ord_ = deg.select(
        "node",
        (
            F.col("degree").cast("long") * F.lit(_TRI_ID_BOUND)
            + F.col("node")
            + _guard
        ).alias("ord"),
    )
    # totals that don't need orientation: nodes, edges, wedges
    totals = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("degree").cast("long")) / 2).cast("long")
        .alias("n_edges"),
        F.sum(
            (F.col("degree").cast("long")
             * (F.col("degree").cast("long") - 1)) / 2
        ).cast("long").alias("n_wedges"),
    )
    oriented = (
        e.join(ord_.select(F.col("node").alias("a"),
                           F.col("ord").alias("ord_a")), "a")
        .join(ord_.select(F.col("node").alias("b"),
                          F.col("ord").alias("ord_b")), "b")
        .select(
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("ord_a"))
            .otherwise(F.col("ord_b")).alias("src"),
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("ord_b"))
            .otherwise(F.col("ord_a")).alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    # repartition on src BEFORE the collect_list groupBy: the hash agg
    # then runs on already-distributed slim (src, dst) rows and the
    # exchange carries two longs per row — left to Catalyst, the agg's
    # own exchange ships PARTIAL ARRAY rows instead (per-mapper partial
    # adjacency lists: ~110 B/row of array/row overhead; the r12
    # shuffle-byte audit measured 252 MB of 315 MB total on that one
    # exchange at sf1, where the slim form is ~21 MB). The src-side
    # intersect join below reuses this partitioning too.
    out_adj = (
        oriented.repartition(F.col("src"))
        .groupBy("src")
        .agg(F.array_sort(F.collect_list("dst")).alias("_nbrs"))
    )
    tri = (
        oriented.join(
            out_adj.select(F.col("src").alias("_s"), F.col("_nbrs").alias("_na")),
            F.col("src") == F.col("_s"),
        )
        # prune N+(src) to elements AFTER dst in the total order before
        # the dst-keyed exchange: a closing node w ∈ N+(dst) always has
        # w > dst (orientation), so elements ≤ dst can never intersect.
        # This exchange is the plan's dominant byte term — it ships one
        # adjacency array PER EDGE (Σ outdeg² elements; the r12
        # shuffle-byte audit measured 252 MB of 315 MB total at sf1) and
        # the prune halves it on average. The join above reuses out_adj's
        # src partitioning, so the arrays themselves shuffle only once.
        .select(
            "dst",
            F.expr("filter(_na, x -> x > dst)").alias("_na"),
        )
        .join(
            out_adj.select(F.col("src").alias("_d"), F.col("_nbrs").alias("_nb")),
            F.col("dst") == F.col("_d"),
        )
        .select(
            F.size(F.array_intersect("_na", "_nb")).cast("long").alias("_c")
        )
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_triangles")
        )
    )
    return _tri_census(totals.crossJoin(F.broadcast(tri)))


def neighbor_overlap_pairs(
    bipartite: DataFrame,
    node_col: str,
    neighbor_col: str,
    max_wedge_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Jaccard neighbor-set overlap between node pairs of a bipartite
    relation → ``(node_a, node_b, n_common, deg_a, deg_b, jaccard)``.

    The audience-overlap / link-prediction primitive: nodes are e.g.
    suppliers, neighbors are the customers who bought from them;
    ``jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` scores how
    interchangeable two suppliers' customer bases are.

    Shape: the (node, neighbor) relation is deduplicated and collapsed
    into per-neighbor sorted adjacency lists with ONE shuffle; candidate
    pairs come from WEDGES enumerated in-task from each list (a < b by
    the sort — never node × node, never a self-join), so only pairs with
    ≥1 common neighbor are ever materialized, and the common count is a
    hash agg on the pair. Degrees join back from a slim per-node
    aggregate; ``jaccard = n_common / (deg_a + deg_b - n_common)`` is a
    ratio of BIGINTs — bit-identical across engines.

    ``max_wedge_degree`` is the hot-neighbor cap: one neighbor shared by
    m nodes emits C(m,2) pairs, so at 100 TB ALWAYS set it (drops
    wedges THROUGH mega-degree neighbors — e.g. a customer who bought
    from every supplier carries no overlap signal anyway; documented
    under-count, same recall trade as the dedup tier's bucket caps).
    """
    base = bipartite.select(
        F.col(node_col).alias("node"),
        F.col(neighbor_col).alias("nb"),
    ).filter(F.col("node").isNotNull() & F.col("nb").isNotNull())
    # no pre-distinct: collect_set dedups inside the ONE aggregation
    # shuffle (a separate distinct = a second full exchange of the
    # relation for nothing — measured 1.5 s of the old 4.6 s total).
    # ONE shuffle builds per-neighbor sorted adjacency lists; wedges are
    # then ENUMERATED in-task from each list (posexplode + slice of the
    # ordered suffix) instead of a self-equi-join — measured 2x at bench
    # shape: the join form shuffles the wedge-source twice and hashes
    # 587k rows against themselves to emit the same 11M pairs this
    # explodes for free, and the sorted list gives node_a < node_b by
    # construction. Per-list memory is C(cap) elements, bounded by
    # max_wedge_degree (at 100 TB ALWAYS set it — see docstring).
    lists = (
        base.groupBy("nb")
        .agg(F.sort_array(F.collect_set("node")).alias("_ns"))
        .localCheckpoint(eager=False)
    )
    deg = (
        lists.select(F.explode("_ns").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedge_lists = (
        lists.filter(F.size("_ns") <= max_wedge_degree)
        if max_wedge_degree is not None
        else lists
    )
    heads = wedge_lists.select(
        F.posexplode("_ns").alias("_i", "node_a"), F.col("_ns")
    )
    common = (
        heads.select(
            "node_a",
            F.explode(
                F.slice(F.col("_ns"), F.col("_i") + 2, F.size("_ns"))
            ).alias("node_b"),
        )
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return (
        common.join(
            deg.select(F.col("node").alias("node_a"),
                       F.col("deg").alias("deg_a")), "node_a")
        .join(deg.select(F.col("node").alias("node_b"),
                         F.col("deg").alias("deg_b")), "node_b")
        .select(
            "node_a", "node_b", "n_common", "deg_a", "deg_b",
            (F.col("n_common")
             / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")))
            .alias("jaccard"),
        )
    )


def modularity(edges: DataFrame, assign: DataFrame) -> DataFrame:
    """Newman modularity Q of a GIVEN node partition (Newman & Girvan
    '04, public paper) → ONE row ``(n_edges, n_communities,
    within_edges, modularity)`` — the one-number answer to "is this
    grouping (brand, domain, tenant, detected community) actually
    denser inside than chance?" run BEFORE trusting any
    community-based mitigation (per-community caps, sharding).

    ``assign`` is (node, community). Q folds to

      ``Q = A/m − B/(4m²)``,  A = Σ_c within-edges, B = Σ_c (Σdeg)²

    — both numerators EXACT integer aggregates (B in DECIMAL(38,0)),
    so Q is one fixed-order double expression of exact operands,
    registered unrounded. The naive per-community float sum would be
    order-nondeterministic; the algebraic fold removes it.

    PARTIAL ASSIGNMENTS: Q is computed over the subgraph INDUCED by
    the assigned nodes — edges with an unassigned endpoint contribute
    to NEITHER m nor the degree term, so both come from the same edge
    population (a degree term over all edges next to an m over
    assigned-only edges would silently skew Q). With a full
    assignment this is the classic definition verbatim.

    Scale: two slim joins to tag edge endpoints with communities
    (broadcast when the assignment is small), one (community) rollup
    over the tagged endpoints, one 1-row aggregate. Nothing exceeds
    |E|.
    """
    e = edges.select("a", "b")
    tagged = (
        e.join(
            assign.select(F.col("node").alias("a"),
                          F.col("community").alias("_ca")), "a"
        )
        .join(
            assign.select(F.col("node").alias("b"),
                          F.col("community").alias("_cb")), "b"
        )
        .localCheckpoint(eager=False)
    )
    dc = (
        tagged.select(F.col("_ca").alias("community"))
        .unionAll(tagged.select(F.col("_cb").alias("community")))
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("_dc"))
    )
    bsum = dc.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(
            F.col("_dc").cast("decimal(38,0)") * F.col("_dc")
        ).alias("_B"),
    )
    asum = tagged.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(
            (F.col("_ca") == F.col("_cb")).cast("long")
        ).alias("within_edges"),
    )
    md = F.col("n_edges").cast("double")
    return asum.crossJoin(F.broadcast(bsum)).select(
        "n_edges",
        "n_communities",
        "within_edges",
        (
            F.col("within_edges").cast("double") / md
            - F.col("_B").cast("double")
            / (F.lit(4.0) * md * md)
        ).alias("modularity"),
    )


def khop_reach(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Bounded-depth BFS over an undirected graph → ``(node, hop)``:
    every node within ``max_hops`` of the seed set, labeled with its
    MINIMUM hop distance. The blast-radius primitive — "what does this
    recalled part / compromised account / poisoned document touch
    within 3 links?" — and the bounded, oracle-checkable slice of BFS
    (full shortest paths are unbounded-iterative; a fixed hop budget is
    what incident response actually asks for).

    Input: canonical edges from :func:`undirected_edges`; ``seeds`` is
    a single-column (``node``) relation.

    Determinism: hop labels are small integers produced by a fixed
    number of expansion rounds with a min-hop reduction — exact on any
    engine (the `kcore` unrolled-oracle contract).

    Scale shape per round: the FRONTIER (nodes first reached last
    round, never the full reach set) joins the bidirected edge list —
    a keyed equi-join AQE broadcasts while the frontier is small — then
    one anti-join against the seen set and a distinct. Lineage is
    checkpoint-truncated per round (the CC/pagerank discipline).
    Rounds = ``max_hops``, a parameter.
    """
    e2 = (
        edges.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(
            edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
        )
        .localCheckpoint(eager=False)
    )
    seen = seeds.select(
        F.col("node").cast("long").alias("node"), F.lit(0).alias("hop")
    ).distinct().localCheckpoint(eager=False)
    frontier = seen.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e2, frontier["node"] == e2["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .localCheckpoint(eager=False)
        )
        seen = seen.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return seen.orderBy("hop", "node")


def kcore(
    edges: DataFrame, k: int, max_iterations: int = 30
) -> DataFrame:
    """k-core decomposition → the maximal subgraph where every node has
    degree ≥ k, as ``(node, core_degree)``. The standard "dense
    community / spam-farm" screen on link graphs: a crawl-graph 10-core
    is almost always a link ring, and the k-core is also the cheap
    upper-bound pruner before clique-ish mining (any k+1-clique lives
    inside the k-core).

    Algorithm: iterative peeling — drop every node with degree < k,
    recompute degrees (removals lower neighbors' degrees), repeat until
    the edge set is stable. Termination is guaranteed (the edge set
    strictly shrinks or the loop stops).

    Scale shape per round: one degree hash-agg on the exploded
    endpoints + two left_semi joins of the edge list against the
    surviving-node set (AQE broadcasts it when small) + an edge count
    for the convergence test; ``localCheckpoint`` truncates the
    iterative lineage (the CC/pagerank discipline). Rounds are
    O(peeling depth) — bounded by ``max_iterations`` for adversarial
    chains.

    Iterative convergence depends on data, not engine — registered
    rows-only (the PageRank contract); semantics pinned by hand graphs
    in tests.
    """
    e = edges.select("a", "b").localCheckpoint(eager=False)
    n_edges = e.count()
    for _ in range(max_iterations):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        ne = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n_new = ne.count()
        if n_new == n_edges:
            break
        e, n_edges = ne, n_new
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def adamic_adar_pairs(
    bipartite: DataFrame,
    node_col: str,
    neighbor_col: str,
    max_wedge_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Adamic-Adar link-prediction scores between node pairs of a
    bipartite relation → ``(node_a, node_b, n_common, aa_micro,
    aa_score)`` (Adamic & Adar '03, public paper). The weighted sibling
    of :func:`neighbor_overlap_pairs`: each shared neighbor z
    contributes ``1/ln(deg(z))`` instead of 1, so RARE shared neighbors
    dominate — two suppliers sharing a 3-customer niche score far above
    two sharing a mass-market customer, which is exactly the signal
    raw common-neighbor counts wash out.

    Same single-shuffle wedge shape as ``neighbor_overlap_pairs``:
    per-neighbor sorted adjacency lists, pairs enumerated in-task from
    each list (never a self-join), ``max_wedge_degree`` capping hot
    neighbors (mandatory at 100 TB). The weight is computed FROM THE
    LIST SIZE before exploding — no degree join at all.

    Portability: each weight is the half-up micro-int
    ``round(1e6/ln(deg))`` of a small-integer ln (deterministic double
    on both engines — the zipf/BM25 log convention); ``aa_micro`` is an
    exact BIGINT sum; ``aa_score = aa_micro/1e6`` is one exact-operand
    division. Lists of size 1 emit no wedges, so ln ≥ ln 2 > 0 always.
    """
    base = bipartite.select(
        F.col(node_col).alias("node"),
        F.col(neighbor_col).alias("nb"),
    ).filter(F.col("node").isNotNull() & F.col("nb").isNotNull())
    lists = base.groupBy("nb").agg(
        F.sort_array(F.collect_set("node")).alias("_ns")
    )
    # size-1 lists emit no wedges; dropping them BEFORE the weight
    # expression also keeps ln(1)=0 out of the divisor (ANSI mode)
    lists = lists.filter(F.size("_ns") >= 2)
    if max_wedge_degree is not None:
        lists = lists.filter(F.size("_ns") <= max_wedge_degree)
    heads = lists.select(
        F.posexplode("_ns").alias("_i", "node_a"),
        F.col("_ns"),
        F.floor(
            F.lit(1000000.0) / F.log(F.size("_ns").cast("double"))
            + F.lit(0.5)
        ).cast("long").alias("_w"),
    )
    return (
        heads.select(
            "node_a",
            F.explode(
                F.slice(F.col("_ns"), F.col("_i") + 2, F.size("_ns"))
            ).alias("node_b"),
            "_w",
        )
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("_w").alias("aa_micro"),
        )
        .filter(F.col("n_common") >= min_common)
        .select(
            "node_a", "node_b", "n_common", "aa_micro",
            (F.col("aa_micro") / F.lit(1000000.0)).alias("aa_score"),
        )
    )


def hits_fixedpoint(
    edges: DataFrame,
    iterations: int = 6,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities in int64 fixed-point micro-units over a
    directed graph → ``(node, hub_micro, auth_micro)`` (Kleinberg '99,
    public paper). The directed complement of ``pagerank_fixedpoint``:
    a node is a good HUB when it points at good authorities and a good
    AUTHORITY when good hubs point at it — on a supplier→customer
    graph, hub = broad-reach supplier, authority = customer courted by
    the well-connected suppliers (which indegree alone does not say).

    Exact-integer contract: h₀ uniform ``scale div |src nodes|``; each
    round folds ``a_raw(j) = Σ_{i→j} h(i)`` exactly in BIGINT, then
    L1-normalizes with ``a(j) = (a_raw(j)·scale) div Σ a_raw``. The L1
    invariant bounds everything: Σh ≤ scale after every round, so
    ``a_raw(j) ≤ scale`` and the normalization product never exceeds
    ``scale² = 1e12`` — deep inside int64, no decimal pathway needed.
    DOMAIN: ``|src nodes| < scale`` is REQUIRED (h₀ floors to 0
    otherwise, zeroing every score and the L1 total — raised as a
    clear error, not a divide-by-zero) and ``scale ≤ 3·10⁹`` keeps
    scale² inside int64; for billion-node graphs pass a larger scale
    up to that cap.
    Truncating positive division is identical on both engines, so the
    unrolled-CTE oracle reproduces every round bit-for-bit. Nodes on
    one side only carry a 0 on the other score (a source that nobody
    cites is a zero authority — reported, not dropped).

    Scale: edges dedup + repartition once; per round two key-shuffled
    aggregates over the edge relation plus two one-row L1 totals
    (broadcast); per-round lineage truncation via eager localCheckpoint
    (the pagerank contract). Never a data-sized collect.
    """
    if iterations < 1:
        # `a` only exists after the first authority half-step; there is
        # no meaningful round-0 state to report
        raise ValueError("hits_fixedpoint requires iterations >= 1")
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .repartition("src")
        .persist()
    )
    srcs = e.select(F.col("src").alias("node")).distinct().persist()
    dsts = e.select(F.col("dst").alias("node")).distinct().persist()
    n_src = srcs.count()
    if n_src == 0:
        for x in (e, srcs, dsts):
            x.unpersist()
        return e.select(
            F.col("src").alias("node"),
            F.lit(0).cast("long").alias("hub_micro"),
            F.lit(0).cast("long").alias("auth_micro"),
        )
    if int(scale) > 3_000_000_000:
        raise ValueError(
            f"hits_fixedpoint: scale={scale} > 3e9 — scale² must fit "
            "int64 for the exact L1 normalization"
        )
    if n_src >= int(scale):
        raise ValueError(
            f"hits_fixedpoint: {n_src} source nodes >= scale={scale}; "
            "the uniform h0 = scale div n_src floors to 0 and every "
            "score degenerates. Pass a larger scale (<= 3e9)."
        )
    h = srcs.withColumn("h", F.lit(int(scale) // n_src).cast("long"))

    def _l1_normalize(raw: DataFrame, col: str) -> DataFrame:
        tot = raw.agg(F.sum(col).cast("long").alias("_tot"))
        return (
            raw.crossJoin(F.broadcast(tot))
            .select(
                "node",
                # raw <= scale by the L1 invariant, so the product is
                # <= scale^2 <= 9e18 — positive int64 `div` throughout;
                # _tot > 0 is guaranteed when the graph has >= 1 edge
                # and h0 >= 1 (enforced above), but guard anyway so a
                # pathological all-zero round reports 0, not an error
                F.when(
                    F.col("_tot") > 0,
                    F.expr(f"({col} * {int(scale)}) div _tot"),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias(col),
            )
        )

    a = None
    for _ in range(iterations):
        a_raw = (
            e.join(h, e["src"] == h["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").cast("long").alias("a"))
        )
        a = _l1_normalize(a_raw, "a").localCheckpoint(eager=True)
        h_raw = (
            e.join(a, e["dst"] == a["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").cast("long").alias("h"))
        )
        h = _l1_normalize(h_raw, "h").localCheckpoint(eager=True)

    out = (
        srcs.select("node").union(dsts.select("node")).distinct()
        .join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0)).cast("long")
            .alias("hub_micro"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long")
            .alias("auth_micro"),
        )
        .orderBy("node")
    )
    for x in (e, srcs, dsts):
        x.unpersist()
    return out
