"""Similarity search over embedding columns (SURVEY §2.10).

Brute-force cosine top-k as the exact baseline; LSH-bucketed (random
hyperplane) ANN as the scale path. Embeddings are ``array<float>`` columns;
all arithmetic is cast to double and computed with JVM higher-order
functions (``zip_with`` + ``aggregate``) — no Python in the hot path.

Scale design: brute-force is O(|Q|·N·d) with Q broadcast — right when the
query set is small. For all-pairs / big-Q, the hyperplane-LSH variant
bucket-joins on sign-pattern prefixes so comparisons are confined to
same-bucket vectors (Σ bucket² ≪ n²); recall is tunable via number of
tables/planes. A cluster-scale IVF (k-means coarse quantizer) follows the
same join shape and slots in here later.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_essentials_spark.functions import sql_ident
from apache_flink_essentials_spark.operators.skew import hot_bucket_salted_join
from apache_flink_essentials_spark.session import driver_frame, driver_small_path


def dot_expr(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ over array columns ``a`` and ``b`` in double precision,
    left-to-right fold (deterministic)."""
    return F.expr(_dot_sql(sql_ident(a), sql_ident(b)))


def _dot_sql(a: str, b: str) -> str:
    """:func:`dot_expr` over SQL expressions ``a`` and ``b``, as SQL text —
    parsed in ONE py4j call. Every vector fold is SQL text: building one
    through the Column API costs a py4j round trip per node and per
    float literal, which at 8×64 literals is more driver time than the
    query's execution."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )


def _sq_dist_sql(a: str, center: list[float]) -> str:
    """SQL-string twin of the ``(aᵢ−cᵢ)²`` fold against a literal center —
    same rationale as :func:`_dot_sql` (k×dim literals through the Column
    API dominate build time)."""
    arr = "array(" + ",".join(f"{float(x)!r}D" for x in center) + ")"
    return (
        f"aggregate(zip_with({a}, {arr},"
        " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        " 0D, (acc, v) -> acc + v)"
    )


def _norm_sql(v: str) -> str:
    return f"sqrt({_dot_sql(v, v)})"


def safe_norm_expr(a: str) -> Column:
    """L2 norm of array column ``a`` with 0 mapped to 1, so dividing by it
    leaves zero vectors unchanged — the exact expression twin of the Arrow
    paths' ``n[n == 0] = 1.0`` guard (keeps the documented arrow≡expression
    equality on corpora that contain zero vectors)."""
    return F.expr(_safe_norm_sql(sql_ident(a)))


def _safe_norm_sql(v: str) -> str:
    """:func:`safe_norm_expr` over SQL expression ``v`` — the norm every
    cosine-search SQL path divides by. A zero vector (a real artifact:
    padding rows, failed embedder calls) must score cosine 0 and sink
    to the bottom of the ranking, not raise ANSI DIVIDE_BY_ZERO and
    kill the whole search."""
    return (
        f"coalesce(nullif({_norm_sql(v)}, cast(0.0 as double)),"
        " cast(1.0 as double))"
    )


def cosine_expr(a: str, b: str) -> Column:
    """Cosine of array columns ``a`` and ``b``."""
    qa, qb = sql_ident(a), sql_ident(b)
    return F.expr(f"{_dot_sql(qa, qb)} / ({_norm_sql(qa)} * {_norm_sql(qb)})")


def knn_cosine_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast(queries) × embeddings → per-pair cosine →
    per-query top-k via window rank. The broadcast eliminates any shuffle of
    the big side; ranking is computed per query partition.

    Cosine is rounded BEFORE ranking (ties broken by neighbor id) so results
    are reproducible across engines and summation orders.
    """
    # norms precomputed per ROW (not per pair): the pairwise stage then does
    # ONE dot product per pair instead of three — same values bit-for-bit
    # (identical fold), ~3× less compute at the quadratic stage.
    # SQL strings, not Column-API folds — the `_dot_sql` py4j rationale.
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{vec_col}` AS q_vec",
        f"{_safe_norm_sql(f'`{vec_col}`')} AS q_norm",
    )
    e = embeddings.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"`{vec_col}` AS n_vec",
        f"{_safe_norm_sql(f'`{vec_col}`')} AS n_norm",
    )
    pairs = e.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.selectExpr(
        "query_id",
        "neighbor_id",
        f"round({_dot_sql('q_vec', 'n_vec')} / (q_norm * n_norm),"
        f" {round_dp}) AS cosine",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """All-pairs cosine ≥ threshold within a blocking key (e.g. a cluster
    id / label from an upstream coarse quantizer). This is the exact-within-
    block half of an IVF index: the quadratic step is confined to one block,
    cost Σ block² — the join shuffles once on the block key. A HOT block
    (one label covering a large corpus slice) additionally slices its
    quadratic compare across salts via :func:`skew.hot_bucket_salted_join`
    — the exact Σ block² work is intrinsic to the operator's contract, but
    no single task should carry one block's share alone."""
    base = embeddings.repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(
        F.col(block_col),
        F.col(id_col),
        F.col(vec_col),
        safe_norm_expr(vec_col).alias("norm"),  # per-row, pre-join
    )
    a = base.select(
        F.col(block_col),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("norm").alias("norm_a"),
    )
    b = base.select(
        F.col(block_col),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("norm").alias("norm_b"),
    )
    scored = (
        hot_bucket_salted_join(a, b, block_col, id_a="id_a")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            block_col,
            "id_a",
            "id_b",
            F.round(
                dot_expr("vec_a", "vec_b") / (F.col("norm_a") * F.col("norm_b")),
                round_dp,
            ).alias("cosine"),
        )
        # pushdown barrier (see embedding_dedup_pairs): keeps the threshold
        # out of the join condition so the interpreted dot fold evaluates
        # once per candidate pair, not once in the condition and again in
        # the projection
        .withColumn("_pushdown_barrier", F.monotonically_increasing_id())
    )
    return scored.filter(F.col("cosine") >= threshold).drop(
        "_pushdown_barrier"
    )


def cosine_best_match_blocked(
    embeddings: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-vector BEST within-block partner at ``cosine ≥ threshold`` →
    ``(vec_id, best_match_id, best_cosine)``; ties break to the smallest
    partner id. The corpus-bounded OUTPUT CONTRACT over
    :func:`cosine_pairs_blocked` (the `ngram_jaccard_best_match` story):
    the pair LIST grows with within-block density² — the sf0.1→sf1 curve
    measured alpha 1.45 for the pair form, and most of that is the
    result set itself — while this output is ≤|corpus| rows.

    The dot-product work is still Σ block² (exact all-pairs is exact;
    the APPROXIMATE escape at 100 TB is the LSH/IVF family) — but the
    pair stream here feeds a map-side-combined ``max_by`` aggregate, so
    pairs are reduced to per-vector bests inside each join task and the
    unbounded pair relation is never shuffled or materialized.
    """
    pairs = cosine_pairs_blocked(
        embeddings,
        block_col,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=round_dp,
    )
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("doc"),
                    F.col("id_b").alias("partner"),
                    F.col("cosine"),
                ),
                F.struct(
                    F.col("id_b").alias("doc"),
                    F.col("id_a").alias("partner"),
                    F.col("cosine"),
                ),
            )
        ).alias("_e")
    ).select("_e.doc", "_e.partner", "_e.cosine")
    return sym.groupBy(F.col("doc").alias(id_col)).agg(
        F.expr("max_by(partner, struct(cosine, -partner))").alias(
            "best_match_id"
        ),
        F.max("cosine").alias("best_cosine"),
    )


def signed_sign_table(
    n_proj: int, dim: int, seed: int = 0
) -> "list[list[int]]":
    """Deterministic ±1 sign matrix for :func:`signed_projection` —
    splitmix64-style integer mixing (the `_hyperplane` idiom), no RNG
    state, reproducible by ANY engine or by the oracle generator that
    embeds the same literals. ``n_proj`` rows of ``dim`` signs."""
    mask = 0xFFFFFFFFFFFFFFFF
    table = []
    for p_idx in range(n_proj):
        row = []
        for j in range(dim):
            z = (
                seed * 0xD6E8FEB86659FD93
                + p_idx * 0x9E3779B97F4A7C15
                + j * 0xBF58476D1CE4E5B9
            ) & mask
            z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & mask
            z ^= z >> 31
            row.append(1 if z & 1 else -1)
        table.append(row)
    return table


def signed_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_proj: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Signed random projection of an embedding column — the
    Johnson-Lindenstrauss / SimHash family member (Achlioptas '03
    database-friendly ±1 projections; Charikar '02 sign sketches) that
    is EXACT-INTEGER portable: components quantize to micro-units
    (``floor(x·10⁶ + 0.5)`` — half-up on both engines since floor is),
    the projection matrix is ±1 literals from :func:`signed_sign_table`,
    and each output coordinate is an order-independent BIGINT sum
    ``proj_j = Σᵢ s[j][i]·vmᵢ`` — no float ever accumulates, so the
    projection (and its sign bit, the SimHash signature) is
    oracle-checkable bit-for-bit, unlike the float hyperplane LSH path.

    Output: flat ``(id, proj_idx, proj_micro, bit)`` — ``n_proj`` rows
    per vector; ``bit = proj_micro >= 0`` is the signature bit used for
    Hamming-bucket candidate generation, ``proj_micro`` the reduced
    coordinate (in micro-units ×√d-free raw scale) for distance
    estimation in the reduced space.

    Scale: a zero-shuffle scan-stage projection — per row ``n_proj×dim``
    integer multiply-adds inside whole-stage codegen; the sign matrix is
    ``n_proj×dim`` LITERALS compiled into the plan (one parsed SQL
    string — the `_dot_sql` py4j-chatter rationale), never a join. At
    100 TB this runs at scan speed with nothing to co-locate.
    """
    table = signed_sign_table(n_proj, dim, seed)
    vm = (
        f"transform(`{vec_col}`,"
        " x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint))"
    )
    structs = []
    for j, row in enumerate(table):
        arr = "array(" + ",".join(f"{s}L" for s in row) + ")"
        structs.append(
            f"struct({j} AS proj_idx,"
            f" aggregate(zip_with(_vm, {arr}, (x, s) -> x * s),"
            " cast(0 as bigint), (acc, v) -> acc + v) AS proj_micro)"
        )
    return (
        df.selectExpr(f"`{id_col}`", f"{vm} AS _vm")
        .selectExpr(
            f"`{id_col}`",
            f"explode(array({', '.join(structs)})) AS _p",
        )
        .selectExpr(
            f"`{id_col}`",
            "_p.proj_idx",
            "_p.proj_micro",
            "_p.proj_micro >= 0 AS bit",
        )
    )


_VM_SQL = (
    "transform(`{vec}`,"
    " x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint))"
)


def _packed_sig_sql(n_proj: int, dim: int, seed: int) -> str:
    """SQL for the packed SimHash signature over a micro-quantized
    vector column named ``_vm`` — ``Σ_j [proj_j >= 0]·2^j`` with each
    projection the same exact integer fold as
    :func:`signed_projection` (identical values bit-for-bit: the sign
    applied to component i of row j is the SAME ±1, the fold order is
    the same left-to-right i = 0..dim−1, and the packing bit is the
    same 2^j).

    The sign MATRIX is carried as ``n_proj`` BIGINT literals — row j's
    64 signs packed one bit each (bit i set ⟺ s[j][i] = +1, decoded
    with ``(r >> i) & 1``; rows with bit 63 set wrap to the negative
    signed twin, which arithmetic shiftright + &1 decodes identically).
    The earlier form spelled out n_proj×dim ±1 literals (a ~1100-node
    expression tree, built and optimized TWICE per search: catalyst
    analysis dominated the sub-second audit queries); this tree is
    ~50 nodes, leaving the per-row work unchanged."""
    if dim > 64:
        raise ValueError("packed sign rows require dim <= 64")
    table = signed_sign_table(n_proj, dim, seed)
    packed = []
    for row in table:
        bits = sum((1 << i) for i, s in enumerate(row) if s == 1)
        if bits >= 1 << 63:  # reinterpret as signed int64
            bits -= 1 << 64
        packed.append(f"{bits}L")
    rows = "array(" + ",".join(packed) + ")"
    return (
        f"aggregate(zip_with({rows}, sequence(0, {n_proj - 1}),"
        " (r, j) -> IF("
        f"aggregate(zip_with(_vm, sequence(0, {dim - 1}),"
        " (x, i) -> IF((shiftright(r, i) & 1) = 1, x, -x)),"
        " cast(0 as bigint), (acc, v) -> acc + v) >= 0,"
        " shiftleft(cast(1 as bigint), j), cast(0 as bigint))),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )


def signed_signature(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_proj: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Pack the :func:`signed_projection` sign bits into ONE BIGINT
    SimHash signature per vector: ``sig = Σ_j bit_j · 2^j`` (exact
    integer — requires ``n_proj <= 63``). The compact form Hamming
    search and near-dup banding operate on.

    Computed PER ROW in a single scan-stage expression (the n_proj
    integer folds inline, bits packed with shiftleft) — NOT via the
    flat ``signed_projection`` relation: the explode-then-groupBy
    route shuffles n_proj rows per vector to rebuild what one row
    already holds, an exchange this form never pays. Values are
    bit-identical (same fold, same sign rule, same packing)."""
    if n_proj > 63:
        raise ValueError("n_proj must fit a BIGINT signature (<= 63)")
    return df.selectExpr(
        f"`{id_col}`", _VM_SQL.format(vec=vec_col) + " AS _vm"
    ).selectExpr(
        f"`{id_col}`", _packed_sig_sql(n_proj, dim, seed) + " AS sig"
    )


def hamming_knn(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_proj: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Top-k nearest neighbors in the signed-projection HAMMING space —
    the Charikar '02 estimate ``cos(θ) ≈ cos(π·hamming/n_proj)`` made
    into a search: rank corpus vectors by the bit disagreement of their
    SimHash signatures with the query's. The integer-exact ANN variant:
    unlike the float LSH/IVF/PQ paths (rows-only by design), every
    intermediate here — signatures, XOR, popcount, rank — is exact, so
    the WHOLE search is oracle-checkable bit-for-bit; its recall
    against exact cosine KNN is the quality dial (`vec_hamming_recall`).

    Output: (query_id, neighbor_id, hamming, rank) — rank by
    (hamming ASC, neighbor_id ASC), deterministic.

    Scale: signatures are one zero-shuffle scan op each side; the
    search is a broadcast nested-loop of the QUERY SET (bounded, the
    `knn_cosine_bruteforce` convention) against corpus signatures —
    8 bytes per corpus row, ~n_proj/8 bytes of real payload, so the
    scan side streams at memory speed; per-query top-k via one keyed
    window over |queries|·|corpus| slim rows. For corpus×corpus scale,
    band the signature into LSH buckets instead (``dedup_simhash``).
    """
    from pyspark.sql.window import Window

    esig = signed_signature(
        embeddings, id_col=id_col, vec_col=vec_col, dim=dim,
        n_proj=n_proj, seed=seed,
    ).select(F.col(id_col).alias("neighbor_id"), F.col("sig").alias("_es"))
    qsig = signed_signature(
        queries, id_col=id_col, vec_col=vec_col, dim=dim,
        n_proj=n_proj, seed=seed,
    ).select(F.col(id_col).alias("query_id"), F.col("sig").alias("_qs"))
    scored = (
        esig.join(
            F.broadcast(qsig),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.bit_count(F.expr("_qs ^ _es")).cast("long").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def hamming_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_proj: int = 16,
    seed: int = 0,
    round_dp: int = 6,
) -> DataFrame:
    """Recall@k of Hamming (SimHash) search against exact cosine KNN
    over the SAME corpus, fused into one plan → per query
    ``(query_id, n_exact, n_hit, recall)``.

    Semantically identical to ``knn_recall(hamming_knn(...),
    knn_cosine_bruteforce(...))`` but the two legs SHARE one candidate
    relation: each corpus row carries (vector, norm, signature) out of
    a single scan, the query×corpus pair set is enumerated ONCE, and
    both rankings — cosine (rounded before ranking, ties by neighbor
    id — the `knn_cosine_bruteforce` contract) and Hamming (ties by
    neighbor id) — are windows over that one relation, so one exchange
    on query_id serves both. Recall then needs NO join at all: an
    exact-top-k pair is a hit iff its OWN hamming rank is ≤ k — read
    off in the final aggregate. The unfused form paid ~4 corpus scans,
    2 signature shuffles, 2 ranking exchanges and a recall join
    (7 exchanges / 16 codegen stages for a 10-query audit).

    Scale: the broadcast side is the bounded query set (the
    `knn_cosine_bruteforce` convention); the corpus side streams
    through one scan — signature + norm are scan-stage expressions.
    """
    sig_sql = _packed_sig_sql(n_proj, dim, seed)
    vm = _VM_SQL.format(vec=vec_col)
    # every projection below is a SQL STRING (one parsed py4j call per
    # select) — the `_dot_sql` rationale: Column-API lambda folds cost a
    # py4j round trip per node, which on this sub-second audit is more
    # driver time than the whole execution
    e = embeddings.selectExpr(
        f"`{id_col}` AS neighbor_id", f"`{vec_col}` AS n_vec",
        f"{vm} AS _vm",
    ).selectExpr(
        "neighbor_id", "n_vec",
        f"{sig_sql} AS n_sig",
        # per row, not per pair
        f"{_safe_norm_sql('n_vec')} AS n_norm",
    )
    q = queries.selectExpr(
        f"`{id_col}` AS query_id", f"`{vec_col}` AS q_vec",
        f"{vm} AS _vm",
    ).selectExpr(
        "query_id", "q_vec",
        f"{sig_sql} AS q_sig",
        f"{_safe_norm_sql('q_vec')} AS q_norm",
    )
    pairs = e.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.selectExpr(
        "query_id",
        "neighbor_id",
        f"round({_dot_sql('q_vec', 'n_vec')} / (q_norm * n_norm),"
        f" {round_dp}) AS cosine",
        "cast(bit_count(q_sig ^ n_sig) as bigint) AS hamming",
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    wh = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    ranked = scored.select(
        "query_id",
        F.row_number().over(wc).alias("_rank_c"),
        F.row_number().over(wh).alias("_rank_h"),
    )
    return (
        ranked.where(F.col("_rank_c") <= k)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(
                F.when(F.col("_rank_h") <= k, 1).otherwise(0)
            ).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


def centroid_drift(
    df: DataFrame,
    split: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Embedding-space drift monitor → per label ``(label, n_a, n_b,
    centroid_cosine)``: the cosine between the label's centroid in
    split A (``split`` false) and split B (``split`` true) — the
    scheduled read that catches an embedding-model version change, a
    pipeline re-order, or upstream content drift shifting a class's
    region BEFORE any ANN index built on yesterday's geometry goes
    stale. cosine ≈ 1 = stable; a drop localizes WHICH label moved.

    Portability: components quantize to micro-unit BIGINTs
    (`signed_projection`'s floor half-up), per-dim sums are exact
    integer aggregates, and because cosine is scale-invariant the
    per-side counts CANCEL — the statistic is computed directly on the
    integer sum vectors: ``cos = Σ sa_d·sb_d / (√Σ sa² · √Σ sb²)``,
    exact DECIMAL(38,0) moments into one fixed-order double → round(6)
    (the sqrt is the one transcendental).

    Scale: posexplode fans each row into dim slim rows, but the
    map-side partial aggregate collapses them to (label, side, dim)
    BEFORE the shuffle — the exchange carries ``|labels|·2·dim``
    integer rows, never the data. The moment rollup and cosine run on
    that aggregate.
    """
    base = df.select(
        F.col(label_col).alias("label"),
        split.cast("int").alias("_side"),
        F.posexplode(
            F.expr(
                f"transform(`{vec_col}`, x -> cast(floor("
                "cast(x as double) * 1000000.0 + 0.5) as bigint))"
            )
        ).alias("_d", "_vm"),
    )
    dims = base.groupBy("label", "_side", "_d").agg(
        F.sum("_vm").alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    sides = dims.groupBy("label", "_d").agg(
        F.max(F.when(F.col("_side") == 0, F.col("_s"))).alias("_sa"),
        F.max(F.when(F.col("_side") == 1, F.col("_s"))).alias("_sb"),
        F.max(F.when(F.col("_side") == 0, F.col("_n"))).alias("_na"),
        F.max(F.when(F.col("_side") == 1, F.col("_n"))).alias("_nb"),
    )
    moments = sides.groupBy("label").agg(
        F.max("_na").alias("_na"),
        F.max("_nb").alias("_nb"),
        F.sum(
            F.col("_sa").cast("decimal(38,0)") * F.col("_sb")
        ).alias("_dot"),
        F.sum(
            F.col("_sa").cast("decimal(38,0)") * F.col("_sa")
        ).alias("_naa"),
        F.sum(
            F.col("_sb").cast("decimal(38,0)") * F.col("_sb")
        ).alias("_nbb"),
    )
    return moments.select(
        "label",
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.when(
            (F.col("_naa") > 0) & (F.col("_nbb") > 0),
            F.round(
                F.col("_dot").cast("double")
                / (
                    F.sqrt(F.col("_naa").cast("double"))
                    * F.sqrt(F.col("_nbb").cast("double"))
                ),
                6,
            ),
        ).alias("centroid_cosine"),
    ).orderBy("label")


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component j is
    derived from md5-free integer mixing (splitmix64-style), identical on
    every engine/run. Avoids RNG state entirely."""
    comps = []
    for j in range(dim):
        z = (plane_idx * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        comps.append((z % 2_000_001) / 1_000_000.0 - 1.0)  # [-1, 1]
    return comps


def auto_num_planes(
    n_rows: int, target_bucket_rows: int = 8, lo: int = 4, hi: int = 24
) -> int:
    """Plane count that keeps EXPECTED bucket occupancy constant as the
    corpus grows: ``clamp(ceil(log2(n / target)), lo, hi)``. With a fixed
    plane count, occupancy ∝ corpus and the Σ bucket² pair stage
    super-linearizes (the r12 sf0.1→sf1 curve measured alpha 1.24 for
    ``embedding_dedup_pairs`` at the fixed default 8); growing planes with
    log₂(corpus) holds occupancy at ``target_bucket_rows`` so the pair
    stage is O(corpus · target). The formula is engine-replicable — the
    DuckDB oracle computes the same ``ceil(log2(count(*)/target))`` — and
    avoids exact-power-of-two FP edges only insofar as synthetic corpus
    sizes aren't exact multiples of ``target·2^k``; both engines evaluate
    the identical double expression, so they agree regardless."""
    if n_rows <= 0:
        return lo
    import math

    raw = math.ceil(math.log2(max(n_rows, 1) / float(target_bucket_rows)))
    return max(lo, min(hi, raw))


def ann_lsh_cosine(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_dp: int = 6,
    use_arrow: bool = False,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH (Charikar '02 sign
    sketches): per table, bucket = sign bits against ``num_planes`` fixed
    hyperplanes; candidates share a bucket in ANY table; exact cosine
    re-ranks candidates.

    Recall/cost dial: P(candidate) ≈ 1 − (1 − p^planes)^tables with
    p = 1 − θ/π. Few planes + several tables → high recall, bigger buckets;
    many planes + one table → tiny buckets, recall only for near-identical
    vectors (the dedup regime). For weakly-similar neighbors (random
    embeddings, cosine ≈ 0.3) use ~4 planes × 8 tables.

    This is the 100 TB path: the expensive comparison is an equi-join on
    (table, bucket) — hash shuffle, bucket-local work — not a cross join.
    Exactness is NOT claimed; no oracle (driver records rows-only).
    """

    if use_arrow:
        return _ann_lsh_cosine_arrow(
            embeddings, queries, k, num_planes, num_tables, id_col, vec_col, dim, round_dp
        )

    # plane tables as ONE parsed SQL string — the Column-API form issues a
    # py4j round trip per literal (tables × planes × dim of them: measured
    # ~4 s of driver chatter per build at 8×4×64 before any execution);
    # the parsed trees are identical, results bit-equal
    def table_bucket_sqls(vec_alias: str) -> list[str]:
        out = []
        for t in range(num_tables):
            bits = []
            for p_idx in range(num_planes):
                plane = _hyperplane(dim, t * num_planes + p_idx)
                arr = "array(" + ",".join(f"{c!r}D" for c in plane) + ")"
                bits.append(
                    f"(CASE WHEN {_dot_sql(vec_alias, arr)} >= 0 "
                    f"THEN {1 << p_idx} ELSE 0 END)"
                )
            out.append("(" + " + ".join(bits) + ")")
        return out

    def with_table_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias)
        )
        arr = "array(" + ", ".join(table_bucket_sqls(vec_alias)) + ")"
        return base.selectExpr(
            id_alias,
            vec_alias,
            f"posexplode({arr}) AS (table_id, bucket)",
        )

    e = with_table_buckets(embeddings, "neighbor_id", "n_vec")
    q = with_table_buckets(queries, "query_id", "q_vec")
    # dedup multi-table collisions on BARE ID PAIRS (16-byte rows through
    # the distinct shuffle, not ~4·dim-byte vectors); vectors join back in
    # only for the surviving candidates' exact re-rank
    cands = (
        e.drop("n_vec")
        .join(F.broadcast(q.drop("q_vec")), on=["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    n_vecs = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    )
    scored = (
        cands.join(F.broadcast(q_vecs), on="query_id")
        .join(n_vecs, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("q_vec", "n_vec"), round_dp).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[float]]:
    """Deterministic mini-batch-free Lloyd's k-means over a DataFrame of
    vectors — the IVF coarse quantizer.

    Deterministic by construction: init = the k lowest-id vectors (no RNG);
    each iteration assigns via broadcast centroids and recomputes per-
    dimension means with a posexplode → groupBy(cluster, dim) aggregation
    (fully distributed — never collects the data, only the k×d centroids).

    Pass ``dim`` when known (array element counts aren't in the schema) to
    skip a probe job.
    """
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    centroids = [
        [float(x) for x in r[0]]
        for r in embeddings.orderBy(id_col).select(vec_col).limit(k).collect()
    ]
    # single-file inputs otherwise serialize the assignment stage on one core
    embeddings = embeddings.repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).cache()
    try:
        for _ in range(iters):
            assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
            per_dim = (
                assigned.select(
                    "cluster_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
                )
                .groupBy("cluster_id", "pos")
                .agg(F.avg(F.col("val").cast("double")).alias("mean"))
            )
            rows = per_dim.collect()
            new_centroids = {c: [0.0] * dim for c in range(len(centroids))}
            seen = set()
            for r in rows:
                new_centroids[r.cluster_id][r.pos] = r.mean
                seen.add(r.cluster_id)
            # empty clusters keep their previous centroid
            centroids = [
                new_centroids[c] if c in seen else centroids[c]
                for c in range(len(centroids))
            ]
    finally:
        # only centroids leave: a cached corpus left behind stays pinned
        # and is substituted into any later plan that matches it
        embeddings.unpersist()
    return centroids


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = True,
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, broadcast
    centroids — a narrow map, no shuffle). Adds ``cluster_id``.

    Default path is an Arrow-batched numpy argmin (one matmul per batch);
    ``use_arrow=False`` keeps the pure-expression form (same result,
    interpreted per element — the equality is pinned in tests)."""
    if use_arrow:
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        C = np.array(centroids, dtype=np.float64)  # (k, dim)
        c_sq = (C * C).sum(axis=1)

        @pandas_udf("int")
        def nearest(vecs):
            import pandas as pd

            V = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
            # ||v - c||² = ||v||² - 2 v·c + ||c||²; ||v||² constant per row
            d = c_sq[None, :] - 2.0 * (V @ C.T)
            # numpy argmin takes the lowest index on ties — same tiebreak as
            # the expression form's array_position(min)
            return pd.Series(d.argmin(axis=1).astype(np.int32))

        return embeddings.withColumn("cluster_id", nearest(F.col(vec_col)))

    # one parsed SQL string instead of k×dim F.lit py4j calls (see
    # _dot_sql); argmin with deterministic low-index tiebreak
    dists_sql = (
        "array(" + ",".join(_sq_dist_sql(vec_col, c) for c in centroids) + ")"
    )
    return embeddings.withColumn(
        "cluster_id",
        F.expr(
            f"cast(array_position({dists_sql}, array_min({dists_sql})) - 1"
            " as int)"
        ),
    )


def ivf_index(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Build an IVF index in one pass: fit the coarse quantizer, then
    return (centroids, embeddings+cluster_id). The returned DataFrame is
    what a production deployment PERSISTS (written out partitioned by
    cluster_id); searches then read only the probed clusters — the
    assignment never re-runs per query. Pass the result to
    ``ivf_search(..., pre_assigned=indexed)``."""
    centroids = kmeans_fit(embeddings, k, iters, id_col, vec_col, dim)
    return centroids, ivf_assign(embeddings, centroids, id_col, vec_col)


def ivf_search(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    pre_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest clusters per
    query, exact cosine re-rank within them.

    Scale shape: the index side is partitioned BY cluster (one equi-join on
    cluster_id); each query touches nprobe/k of the data. Recall grows with
    nprobe (nprobe = #centroids ⇒ exact brute force). Pass ``pre_assigned``
    (from ``ivf_index``) to search an already-built index instead of
    re-assigning per call.
    """

    assigned = (
        pre_assigned
        if pre_assigned is not None
        else ivf_assign(embeddings, centroids, id_col, vec_col)
    )
    indexed = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        safe_norm_expr(vec_col).alias("n_norm"),
        "cluster_id",
    )
    # probe selection as ONE parsed SQL string (see _dot_sql): the
    # struct(d, c) array sorts by distance then index — the same
    # deterministic tiebreak as the Column form it replaces
    structs = ",".join(
        f"named_struct('d', {_sq_dist_sql(vec_col, c)}, 'c', {i})"
        for i, c in enumerate(centroids)
    )
    probed = (
        queries.selectExpr(
            f"{id_col} AS query_id",
            f"{vec_col} AS q_vec",
            f"{_safe_norm_sql(vec_col)} AS q_norm",
            f"slice(array_sort(array({structs})), 1, {nprobe}) AS probes",
        )
        .withColumn("probe", F.explode(F.col("probes.c")))
        .drop("probes")
    )
    cands = indexed.join(
        F.broadcast(probed), indexed.cluster_id == probed.probe
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_expr("q_vec", "n_vec") / (F.col("q_norm") * F.col("n_norm")),
            round_dp,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _ann_lsh_cosine_arrow(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    num_planes: int,
    num_tables: int,
    id_col: str,
    vec_col: str,
    dim: int,
    round_dp: int,
) -> DataFrame:
    """Arrow-vectorized variant of ann_lsh_cosine's bucket assignment: the
    32 per-row hyperplane dot products run as ONE numpy matmul per Arrow
    batch instead of Spark's per-element HOF interpreter (~6× faster at
    sf0.1). Same buckets bit-for-bit (same planes, same >= 0 rule) — the
    worked example of the engine's 'Arrow tier when JVM expressions are the
    bottleneck' rule (functions/udf.py)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            [_hyperplane(dim, t * num_planes + p) for p in range(num_planes)]
            for t in range(num_tables)
        ]
    )  # (tables, planes, dim)
    powers = 1 << np.arange(num_planes)  # (planes,)

    @pandas_udf("array<int>")
    def buckets(vecs):
        import pandas as pd

        V = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        # (tables, n, planes): sign bits against every table's planes at once
        signs = (np.einsum("nd,tpd->tnp", V, planes) >= 0).astype(np.int64)
        b = (signs * powers).sum(axis=2)  # (tables, n)
        return pd.Series(list(b.T.astype(np.int32)))

    def with_table_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias)
        )
        return base.select(
            id_alias,
            vec_alias,
            F.posexplode(buckets(F.col(vec_alias))).alias("table_id", "bucket"),
        )

    e = with_table_buckets(embeddings, "neighbor_id", "n_vec")
    q = with_table_buckets(queries, "query_id", "q_vec")
    # id-pairs-only dedup + late vector re-join: same shape as the HOF
    # variant (see ann_lsh_cosine) — the distinct shuffle never carries
    # vectors
    cands = (
        e.drop("n_vec")
        .join(F.broadcast(q.drop("q_vec")), on=["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    n_vecs = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    )
    scored = (
        cands.join(F.broadcast(q_vecs), on="query_id")
        .join(n_vecs, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("q_vec", "n_vec"), round_dp).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    num_planes: "int | None" = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    target_bucket_rows: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (all-pairs intent, LSH-bucketed
    execution): same-bucket pairs with cosine ≥ threshold. Near-identical
    vectors agree on every sign bit with overwhelming probability, so recall
    at dedup thresholds (≥.99) is high while cost stays Σ bucket².

    Scaling knob: ``num_planes`` sets the bucket count (2^planes). With a
    FIXED plane count, bucket occupancy grows ∝ corpus and Σ bucket²
    super-linearizes (the r12 sf0.1→sf1 curve measured alpha 1.24 at the
    default 8 planes) — grow planes with log₂(corpus) so expected
    occupancy stays constant; each extra plane costs one more sign bit
    per row and halves expected bucket size. Recall at ≥.99 thresholds
    is insensitive to the plane count (near-identical vectors agree on
    every added bit too).

    ``num_planes=None`` applies that policy automatically via
    :func:`auto_num_planes` (one metadata-cheap ``count()`` up front):
    occupancy is held at ``target_bucket_rows`` so the pair stage stays
    O(corpus) instead of Σ bucket² super-linear — the measured r12 A/B is
    in SCALING_CURVE.json (`vec_embedding_dedup_auto`).

    IDENTICAL vectors share a bucket at ANY plane count (more planes
    can't split exact duplicates — the boilerplate/zero-embedding case),
    so the bucket self-join additionally goes through
    :func:`skew.hot_bucket_salted_join`: hot buckets slice the quadratic
    compare across salts, cold buckets (the expected steady state under
    auto planes) pay zero replication."""
    if num_planes is None:
        num_planes = auto_num_planes(
            embeddings.count(), target_bucket_rows=target_bucket_rows
        )
    planes = [_hyperplane(dim, p) for p in range(num_planes)]

    # The bucket/norm expressions are built as ONE SQL string instead of
    # nested Column calls: the Column form issues a py4j round trip per
    # plane literal (8 planes × 64 lits ≈ 0.7 s of driver chatter PER
    # BUILD at this shape — measured; execution itself is 0.55 s). The
    # parsed trees are identical (same zip_with/aggregate fold, same
    # casts), so results are bit-equal.
    bits = []
    for p_idx, plane in enumerate(planes):
        arr = "array(" + ",".join(f"{c!r}D" for c in plane) + ")"
        bits.append(
            f"(CASE WHEN {_dot_sql(vec_col, arr)} >= 0 "
            f"THEN {1 << p_idx} ELSE 0 END)"
        )
    bucket_sql = "(" + " + ".join(bits) + ")"

    # norms are per ROW (2 folds per row), not per pair; and the threshold
    # filter sits behind a pushdown barrier. Without the barrier Catalyst
    # pushes `round(cos) >= t` into the join condition AND re-derives it in
    # the projection — the interpreted HOF dot then runs several times per
    # candidate pair (HOFs never enter codegen, so each eval walks the
    # array with per-element lambda dispatch).
    base = embeddings.selectExpr(
        id_col,
        vec_col,
        f"{bucket_sql} AS bucket",
        f"{_safe_norm_sql(vec_col)} AS _norm",
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        "bucket", F.col("_norm").alias("_na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        "bucket", F.col("_norm").alias("_nb"),
    )
    scored = (
        hot_bucket_salted_join(a, b, "bucket", id_a="id_a")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_expr("vec_a", "vec_b")
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cosine"),
        )
        # monotonically_increasing_id is non-deterministic to Catalyst, so
        # predicates cannot cross this projection: cosine is materialized
        # ONCE and the filter below reads the column
        .withColumn("_pushdown_barrier", F.monotonically_increasing_id())
    )
    return scored.filter(F.col("cosine") >= threshold).drop(
        "_pushdown_barrier"
    )


def _bucket_sql(vec_col: str, num_planes: int, dim: int) -> str:
    """Sign-bucket expression shared by the batch and inline-corpus paths
    of the incremental embedding dedup (same construction as
    :func:`embedding_dedup_pairs`)."""
    bits = []
    for p_idx in range(num_planes):
        plane = _hyperplane(dim, p_idx)
        arr = "array(" + ",".join(f"{c!r}D" for c in plane) + ")"
        bits.append(
            f"(CASE WHEN {_dot_sql(vec_col, arr)} >= 0 "
            f"THEN {1 << p_idx} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def build_embedding_bucket_table(
    embeddings: DataFrame,
    num_planes: "int | None" = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    target_bucket_rows: int = 8,
) -> DataFrame:
    """Persistable sign-bucket table for incremental embedding dedup:
    ``(id, vec, bucket, _norm, sig_planes, sig_dim)`` — the embedding
    mirror of :func:`dedup.build_simhash_table`. ``num_planes=None``
    derives the count from the CORPUS size via :func:`auto_num_planes`
    and PINS it in ``sig_planes``: later batches bucket with the corpus's
    plane count (re-deriving from batch size would bucket differently
    and silently never collide — the same failure mode the ``sig_*``
    guards on the minhash/simhash tables exist for)."""
    if num_planes is None:
        num_planes = auto_num_planes(
            embeddings.count(), target_bucket_rows=target_bucket_rows
        )
    return embeddings.selectExpr(
        f"`{id_col}`",
        f"`{vec_col}`",
        f"{_bucket_sql(vec_col, num_planes, dim)} AS bucket",
        f"{_safe_norm_sql(vec_col)} AS _norm",
        f"{int(num_planes)} AS sig_planes",
        f"{int(dim)} AS sig_dim",
    )


def embedding_dedup_with_buckets(
    new_df: DataFrame,
    bucket_table: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental embedding dedup: rows of ``new_df`` whose vector has
    NO corpus bucket-mate at ``round(cosine, 6) ≥ threshold`` in a
    PREBUILT :func:`build_embedding_bucket_table` relation. Only the new
    batch is bucketed (with the corpus-pinned ``sig_planes``/``sig_dim``
    — mismatch is impossible by construction, missing columns fail
    fast); ingest cost is O(batch), the corpus is never re-hashed. The
    bucket join goes through :func:`skew.hot_bucket_salted_join` with
    the corpus as the counted side, so a hot corpus bucket (exact-
    duplicate boilerplate embeddings, which NO plane count can split)
    replicates the small batch side across salts."""
    for c in ("sig_planes", "sig_dim"):
        if c not in bucket_table.columns:
            raise ValueError(
                f"bucket_table lacks a {c} column; build it with "
                "build_embedding_bucket_table so plane-count/dim "
                "compatibility is pinned"
            )
    stored = bucket_table.select("sig_planes", "sig_dim").limit(1).collect()
    if not stored:
        return new_df
    num_planes, dim = int(stored[0][0]), int(stored[0][1])
    corp = bucket_table.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        "bucket",
        F.col("_norm").alias("_na"),
    )
    newb = new_df.selectExpr(
        f"`{id_col}` AS id_b",
        f"`{vec_col}` AS vec_b",
        f"{_bucket_sql(vec_col, num_planes, dim)} AS bucket",
        f"{_safe_norm_sql(vec_col)} AS _nb",
    )
    matched = (
        hot_bucket_salted_join(corp, newb, "bucket", id_a="id_a")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_b",
            F.round(
                dot_expr("vec_a", "vec_b")
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cosine"),
        )
        .withColumn("_pushdown_barrier", F.monotonically_increasing_id())
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def embedding_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.99,
    num_planes: "int | None" = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """One-shot front door: build the corpus bucket table inline and
    dedup ``new_df`` against it (persist via
    :func:`build_embedding_bucket_table` when the corpus outlives one
    batch)."""
    return embedding_dedup_with_buckets(
        new_df,
        build_embedding_bucket_table(
            corpus_df, num_planes, id_col, vec_col, dim
        ),
        threshold,
        id_col,
        vec_col,
    )


def quantize_int8_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column, reported as
    per-vector stats: scale (maxabs/127), qnorm2 (Σ qᵢ², exact BIGINT) and
    mse (mean squared reconstruction error) — the storage-scale path for an
    embedding corpus (4×(float32→int8) shrink before ANN indexing).

    Shape: a pure per-row projection — zero shuffle, zero state, trivially
    parallel at any corpus size; the natural first stage of a quantized-ANN
    pipeline (`ann_lsh_cosine` / `ivf_search` then operate on 1/4 the bytes).

    Portability: quantization is defined as ``floor(x/scale + 0.5)`` clamped
    to [−127, 127] — floor on identical doubles is bit-deterministic in any
    engine (engine round() half-up/half-even variance never enters). scale
    and mse are per-row rationals of identical operands, left unrounded per
    the project's oracle conventions. All-zero vectors get scale 0 and are
    defined to quantize to all-zero (guarded, no 0/0).
    """
    staged = _quant_staged(df, [F.col(id_col)], vec_col)
    return staged.select(
        F.col(id_col),
        F.col("_scale").alias("scale"),
        F.expr(f"CAST(aggregate({_QUANT_CODES}, 0D, (acc, v) -> acc + v * v) AS BIGINT)")
        .alias("qnorm2"),
        F.expr(f"aggregate(zip_with(_vd, {_QUANT_CODES}, (x, qi) -> power(x - qi * _scale, 2)), "
               "0D, (acc, v) -> acc + v) / size(_vd)").alias("mse"),
    )


def _quant_staged(df: DataFrame, keep: list, vec_col: str) -> DataFrame:
    """Materialize the double vector and its quantization scale as REAL
    columns before any per-element lambda touches them: an expression
    subtree referenced inside a higher-order-function lambda is re-evaluated
    per element (array_max over the vector → O(dim²) per row — the
    lambda-CSE rule in SCALING.md, third sighting). Column references
    inside a lambda are plain attribute reads; CollapseProject keeps the
    stage because the scale is non-cheap and multiply-referenced."""
    return df.select(*keep, _doubles_expr(vec_col).alias("_vd")).withColumn(
        "_scale", F.expr("array_max(transform(_vd, x -> abs(x))) / 127D")
    )


# int8 code array (as doubles, exact integers) over the staged
# ``_vd``/``_scale`` columns; scales cancel in cosine so codes alone
# suffice for scoring
_QUANT_CODES = (
    "CASE WHEN _scale = 0 THEN transform(_vd, x -> 0D) "
    "ELSE transform(_vd, x -> greatest(-127D, least(127D, CAST(floor(x / _scale + 0.5D) AS DOUBLE)))) END"
)


def _doubles_expr(vec_col: str) -> Column:
    """Array column ``vec_col`` with every element cast to double."""
    return F.expr(f"transform({sql_ident(vec_col)}, x -> CAST(x AS DOUBLE))")


def knn_cosine_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Top-k cosine neighbors computed on int8-quantized codes — the
    memory-bandwidth-scale variant of `knn_cosine_bruteforce`: per-vector
    symmetric quantization makes the scan side 4× smaller, and because
    cos(q·s_a, q·s_b) = cos(q_a, q_b) (per-vector scales cancel), scoring
    is PURE integer arithmetic — dot/norms are exact integers (≤ dim·127²,
    far under 2^53), so the score is bit-deterministic across engines and
    partitionings with no decimal machinery.

    Same plan shape as the exact variant: broadcast(queries) × embeddings,
    per-query top-k window; the quantization itself is a zero-shuffle
    projection folded into the scan.
    """
    # norms hoisted per ROW (same trade as the exact variant: one dot per
    # pair instead of three array folds — measured, the exchange cost of a
    # parallelism floor here LOSES to the single-task pairwise stage at
    # broadcast-scale candidate counts, so none is applied)
    emb = _quant_staged(
        embeddings, [F.col(id_col).alias("neighbor_id")], vec_col
    ).select(
        "neighbor_id",
        F.expr(_QUANT_CODES).alias("_qe"),
    ).withColumn("_e_norm", safe_norm_expr("_qe"))
    qry = _quant_staged(
        queries, [F.col(id_col).alias("query_id")], vec_col
    ).select("query_id", F.expr(_QUANT_CODES).alias("_qq")).withColumn(
        "_q_norm", safe_norm_expr("_qq")
    )
    scored = (
        emb.join(F.broadcast(qry))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_expr("_qq", "_qe")
                / (F.col("_q_norm") * F.col("_e_norm")),
                round_dp,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def centroid_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group embedding centroids + cosine-to-centroid score per vector —
    the standard corpus-hygiene screen (vectors far from their cluster's
    centroid are mislabeled / noisy / adversarial candidates for review).

    Shape: posexplode to (group, pos, val) → ONE hash-agg shuffle keyed by
    (group, pos) builds all centroid components in parallel → centroids
    reassembled per group (tiny: |groups| × dim rows) and broadcast back —
    the full-width embedding table is scanned once, never shuffled, and the
    scoring join is a broadcast hash join at any corpus size because the
    centroid side only grows with |groups|.

    Portability/determinism: component sums use DECIMAL(30,10) (exact,
    order-independent — double summation order varies across partitions and
    engines) and divide as double; the per-row cosine fold is sequential in
    array order, identical in the DuckDB oracle. Score rounded to
    ``round_digits`` like the other vector queries.
    """
    exploded = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    comps = (
        exploded.groupBy(group_col, "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(30,10)")).cast("double")
                / F.count("*")
            ).alias("c")
        )
    )
    centroids = comps.groupBy(group_col).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").alias("centroid")
    )
    vec_d = _doubles_expr(vec_col)
    return (
        df.select(F.col(id_col), F.col(group_col), vec_d.alias("_v"))
        .join(F.broadcast(centroids), group_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.round(
                cosine_expr("_v", "centroid"), round_digits
            ).alias("cosine_to_centroid"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    assign_arrow: bool = True,
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): cluster embeddings with k-means, then mark as
    duplicates only items with a lower-id neighbor IN THE SAME CLUSTER at
    cosine ≥ threshold. Complements `embedding_dedup_pairs` (LSH buckets,
    dedup thresholds ≥.99): k-means clusters group by overall direction, so
    the looser "semantically redundant" band (.9-.97) still meets its
    neighbors, which sign-bit LSH increasingly misses below .99.

    Returns the DROP LIST: (vec_id, cluster_id, kept_neighbor, max_cosine)
    — one row per vector superseded by its lowest-id close neighbor.
    Keep-side = anti-join the corpus against this list.

    Scale shape: the fit collects only k×d centroids (kmeans_fit is fully
    distributed); assignment is a broadcast-centroid narrow map; the pair
    join shuffles on cluster_id so cost is Σ cluster² — choose k ≈ n/5000
    to bound clusters, and raise `iters` only if centroid drift matters
    (each iter is one posexplode agg over the corpus). Within-cluster
    pairing is quadratic per cluster — exactly SemDedup's published cost
    model; no all-pairs join ever forms.

    Driver check is rows-only by design (k-means is float-iterative; the
    drop set is stable for a given fit but not SQL-expressible); semantics
    are pinned by a planted-duplicate test instead. Pass ``centroids`` to
    apply a PRE-FITTED partition (production: fit once, apply per shard) —
    with fixed centroids and ``assign_arrow=False`` the whole drop list is
    deterministic expression arithmetic, which is what lets the
    `vec_semdedup_apply` registry twin hash-match a SQL oracle.
    """
    centers = (
        centroids
        if centroids is not None
        else kmeans_fit(
            embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            dim=dim,
        )
    )
    # per-ROW norms + a pushdown barrier before the threshold filter, the
    # embedding_dedup_pairs pattern: without it the interpreted cosine
    # fold lands in the join condition and re-evaluates per candidate pair
    assigned = ivf_assign(
        embeddings, centers, id_col, vec_col, use_arrow=assign_arrow
    ).select(
        F.col(id_col),
        F.col(vec_col),
        "cluster_id",
        safe_norm_expr(vec_col).alias("_norm"),
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        "cluster_id", F.col("_norm").alias("_na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        "cluster_id", F.col("_norm").alias("_nb"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cluster_id",
            "id_a",
            "id_b",
            F.round(
                dot_expr("vec_a", "vec_b")
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cosine"),
        )
        .withColumn("_pushdown_barrier", F.monotonically_increasing_id())
        .filter(F.col("cosine") >= threshold)
        .drop("_pushdown_barrier")
    )
    return pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        # one cluster per vector (functional dependency) — min() just keeps
        # the aggregate order-insensitive
        F.min("cluster_id").alias("cluster_id"),
        F.min("id_a").alias("kept_neighbor"),
        F.max("cosine").alias("max_cosine"),
    )


def pca_fit(
    embeddings: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> dict:
    """Distributed PCA fit: top-``k`` principal components of an embedding
    corpus — the classic big-data shape (Arrow-batched partial sums of x
    and x·xᵀ per partition, a numPartitions-row collect, then an O(d³)
    eigendecomposition of the d×d covariance on the driver; the corpus is
    never collected, d=dim is small). Returns
    ``{"mean", "components" (k×d), "explained_variance"}``.

    Deterministic: partial sums are summed on the driver in one numpy call
    over float64 (additions reordered only across partitions — variance at
    the 1e-12 level, far below component direction noise); each
    component's sign is fixed by making its largest-|coordinate| positive.

    The dimensionality-reduction stage of an embedding pipeline:
    project (``pca_project``) before ANN indexing to cut index bytes, or
    whiten before clustering.
    """
    import numpy as np
    import pandas as pd

    if dim is None:
        # probe only when the caller didn't pass dim — the probe is a whole
        # extra job, and the empty-corpus case it also caught is handled by
        # the zero-count check on the aggregated partials below
        probe = embeddings.select(vec_col).first()
        if probe is None:
            raise ValueError("pca_fit: empty corpus — nothing to fit")
        dim = len(probe[0])
    d = dim

    def partials(pdfs):
        for pdf in pdfs:
            X = np.stack(
                pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "sx": [X.sum(axis=0).tolist()],
                    "sxx": [(X.T @ X).reshape(-1).tolist()],
                }
            )

    rows = (
        embeddings.select(vec_col)
        .mapInPandas(partials, "n long, sx array<double>, sxx array<double>")
        .collect()
    )
    n = sum(r.n for r in rows)
    if n == 0:
        raise ValueError("pca_fit: empty corpus — nothing to fit")
    sx = np.sum([np.array(r.sx) for r in rows], axis=0)
    sxx = np.sum([np.array(r.sxx) for r in rows], axis=0).reshape(d, d)
    mean = sx / n
    cov = sxx / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0  # symmetrize away float asymmetry
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = []
    for idx in order:
        v = evecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:  # deterministic sign
            v = -v
        comps.append([float(x) for x in v])
    return {
        "mean": [float(x) for x in mean],
        "components": comps,
        "explained_variance": [float(evals[i]) for i in order],
    }


def pca_project(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project embeddings onto a fitted PCA basis: out[j] = (x − μ)·cⱼ.

    Zero-shuffle projection: μ and the k components are literal arrays
    broadcast in the plan; the centered vector is MATERIALIZED as a column
    before the per-component dot products (lambda-CSE rule — see
    SCALING.md), so the whole operator is two narrow projections.
    """
    # literal mean/component tables as parsed SQL strings (see _dot_sql —
    # (k+1)×dim F.lit py4j round trips otherwise dominate build time)
    mean_arr = (
        "array(" + ",".join(f"{float(m)!r}D" for m in model["mean"]) + ")"
    )
    staged = df.selectExpr(
        id_col,
        f"zip_with(transform({vec_col}, x -> cast(x as double)),"
        f" {mean_arr}, (a, b) -> a - b) AS _c",
    )
    comp_arrs = [
        "array(" + ",".join(f"{float(x)!r}D" for x in comp) + ")"
        for comp in model["components"]
    ]
    dots = ",".join(_dot_sql("_c", arr) for arr in comp_arrs)
    return staged.selectExpr(id_col, f"array({dots}) AS {out_col}")


def mmr_diversify(
    candidates: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    vec_col: str = "embedding",
    score_col: str = "cosine",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein '98):
    from each query's candidate list, greedily pick k items maximizing
    ``lam * relevance - (1 - lam) * max_cosine_to_already_picked`` — the
    diversity-aware selection step of retrieval/training-data pipelines
    (plain top-k returns near-duplicates; MMR spends the budget on
    coverage).

    Scale shape: MMR is inherently sequential in k but independent ACROSS
    queries — so the distribution axis is the query set. Candidates arrive
    per query (typically the top 100-1000 from `knn_cosine_bruteforce` /
    IVF / LSH — already bounded), and the greedy loop runs inside one
    `applyInPandas` group per query: O(k·|cand|) dot products on a few
    hundred rows, never a corpus-wide pass. One exchange on query_id.
    This is a BY-DESIGN pandas op (float-iterative greedy — same tier as
    IVF assignment / PCA / semantic dedup).

    Deterministic: ties broken by ascending id at every step. Output:
    (query, rank 1..k, id, score) — `rank` is selection order.
    """
    import numpy as np
    import pandas as pd

    # query/id columns keep their incoming types (string ids are as valid
    # as numeric ones; hardcoding `long` would miscast or fail them)
    q_type = candidates.schema[query_col].dataType.simpleString()
    id_type = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {q_type}, rank int, {id_col} {id_type}, "
        "mmr_score double"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        vecs = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        picked: list[int] = []
        max_sim = np.full(n, -np.inf)
        rows = []
        for rank in range(1, min(k, n) + 1):
            if picked:
                mmr = lam * rel - (1.0 - lam) * max_sim
            else:
                mmr = lam * rel
            mmr[picked] = -np.inf
            # argmax with ascending-id tiebreak: ids are sorted, argmax
            # returns the first (lowest-id) maximal entry
            best = int(np.argmax(mmr))
            rows.append(
                (int(pdf[query_col].iloc[0]), rank, int(ids[best]),
                 float(mmr[best]))
            )
            picked.append(best)
            sims = unit @ unit[best]
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(
            rows, columns=[query_col, "rank", id_col, "mmr_score"]
        )

    return candidates.groupBy(query_col).applyInPandas(pick, out_schema)


def _mmr_greedy_driver(
    cand: DataFrame,
    sims: DataFrame,
    k: int,
    lam: float,
    one_minus: float,
    query_col: str,
    id_col: str,
) -> DataFrame:
    """Driver-side greedy loop of :func:`mmr_diversify_exact` over the
    ALREADY-JVM-computed rounded sim table — identical IEEE arithmetic
    and (score desc, id asc) tiebreak, so the selection and every
    mmr_score double are bit-equal to the distributed unroll.

    Returns ``None`` when any relevance or similarity is NULL/NaN
    (null-vector rows): Python ``max()`` orders NaN differently from
    Spark's NaN-is-largest / null-skipping aggregates, so those inputs
    fall through to the distributed unroll instead (r12 advisory)."""
    import math

    from pyspark.sql import types as T

    spark = cand.sparkSession
    q_type = cand.schema["q"].dataType
    id_type = cand.schema["cid"].dataType
    out_schema = T.StructType(
        [
            T.StructField(query_col, q_type, True),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField(id_col, id_type, True),
            T.StructField("mmr_score", T.DoubleType(), True),
        ]
    )
    def _py(v):  # numpy scalar → plain Python (one key type per dict)
        return v.item() if hasattr(v, "item") else v

    cand_pdf = cand.select("q", "cid", "rel").toPandas()
    sims_pdf = sims.toPandas()
    by_q: dict = {}
    for q, cid, rel in cand_pdf.itertuples(index=False):
        if rel is None or (isinstance(rel, float) and math.isnan(rel)):
            return None
        by_q.setdefault(_py(q), {})[_py(cid)] = float(rel)
    sim_map: dict = {}
    for q, ia, ib, sim in sims_pdf.itertuples(index=False):
        if sim is None or (isinstance(sim, float) and math.isnan(sim)):
            return None
        sim_map[(_py(q), _py(ia), _py(ib))] = float(sim)
    rows = []
    for q in by_q:
        rel = by_q[q]
        remaining = set(rel)
        picked: list = []
        for rank in range(1, k + 1):
            if not remaining:
                break
            if picked:
                best = max(
                    remaining,
                    key=lambda c: (
                        lam * rel[c]
                        - one_minus
                        * max(sim_map[(q, c, p)] for p in picked),
                        _NegKey(c),
                    ),
                )
                score = lam * rel[best] - one_minus * max(
                    sim_map[(q, best, p)] for p in picked
                )
            else:
                best = max(
                    remaining, key=lambda c: (lam * rel[c], _NegKey(c))
                )
                score = lam * rel[best]
            rows.append((q, rank, best, score))
            picked.append(best)
            remaining.discard(best)
    return driver_frame(
        spark,
        {f.name: [r[i] for r in rows] for i, f in enumerate(out_schema)},
        out_schema,
    )


class _NegKey:
    """Order-inverting wrapper so ``max(key=...)`` breaks score ties by
    ASCENDING id for ids of any orderable type (numeric negation would
    fail on strings)."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return self.v > other.v

    def __eq__(self, other):
        return self.v == other.v


def mmr_diversify_exact(
    candidates: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    vec_col: str = "embedding",
    score_col: str = "cosine",
    k: int = 5,
    lam: float = 0.7,
    round_dp: int = 6,
) -> DataFrame:
    """Expression-path twin of :func:`mmr_diversify` with a reproducibility
    contract: every candidate-candidate similarity is the deterministic
    left-assoc cosine fold ROUNDED to ``round_dp`` before any comparison,
    so the greedy argmax sequence — and therefore the whole selection — is
    bit-identical across engines and shuffle orders. This is what makes MMR
    oracle-checkable: the pandas form above ranks on numpy-matmul floats
    (sum order differs in the last ulp), this form trades a bounded
    quantization for exactness.

    Shape: one within-query all-pairs sim table over the BOUNDED candidate
    set (top-k lists are request-sized by contract — |Q|·k² pairs, never a
    corpus quadratic), then the k-step greedy selection. The selection is
    inherently sequential and runs over the tiny (candidate-sized)
    relations only, so when the materialized sim table is at or below
    `session.DRIVER_MAX_ROWS` (the ``mmr`` gate; |Q|·k² rows are
    request-sized by contract) it is pulled to the driver and the greedy
    loop runs in plain Python over the SAME JVM-computed rounded sims —
    every arithmetic step (lam·rel − (1−lam)·max_sim on IEEE doubles,
    argmax by (score desc, id asc)) is identical, so scores are
    bit-identical to the distributed unroll (pinned by test). The r12
    job-count audit measured the unrolled form at ~63 Spark jobs per run
    (k steps × checkpoint/window/anti-join), all over ≤|Q|·k-row
    relations — pure scheduling floors. Oversized candidate sets keep the
    distributed unroll: each step is a window rank over ≤|Q|·|cand| rows
    plus a tiny aggregate join, every selected set localCheckpoint-ed so
    the final plan stays O(k) shallow. The relevance column is used as
    given (the bruteforce KNN tier already rounds it by the same
    contract).
    """
    one_minus = 1.0 - lam  # inline THIS double everywhere (≠ literal 0.3)
    cand = candidates.select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("cid"),
        F.col(score_col).cast("double").alias("rel"),
        F.col(vec_col).alias("_v"),
        safe_norm_expr(vec_col).alias("_n"),
    ).localCheckpoint(eager=True)
    a = cand.select("q", F.col("cid").alias("ia"), F.col("_v").alias("va"),
                    F.col("_n").alias("na"))
    b = cand.select("q", F.col("cid").alias("ib"), F.col("_v").alias("vb"),
                    F.col("_n").alias("nb"))
    sims = (
        a.join(b, "q")
        .select(
            "q", "ia", "ib",
            F.round(
                dot_expr("va", "vb")
                / (F.col("na") * F.col("nb")),
                round_dp,
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )

    n_sims = sims.count()  # cheap: counts the materialized checkpoint
    if driver_small_path("mmr", n_sims):
        out = _mmr_greedy_driver(
            cand, sims, k, lam, one_minus, query_col, id_col
        )
        if out is not None:
            return out
        # NULL/NaN rel or sim detected — the distributed unroll below
        # owns those semantics (null-skipping max, NaN-is-largest)

    remaining = cand.select("q", "cid", "rel")
    picked = None  # union of (q, cid, rank, mmr_score) rows
    for step in range(1, k + 1):
        if step == 1:
            scored = remaining.select(
                "q", "cid", (F.lit(lam) * F.col("rel")).alias("mmr_score")
            )
        else:
            # max sim from each remaining candidate to the picked set —
            # a join against ≤|Q|·(step-1) rows, then a per-candidate max
            msim = (
                sims.join(
                    picked.select("q", F.col("cid").alias("ib")),
                    ["q", "ib"],
                )
                .groupBy("q", F.col("ia").alias("cid"))
                .agg(F.max("sim").alias("max_sim"))
            )
            scored = (
                remaining.join(msim, ["q", "cid"])
                .select(
                    "q", "cid",
                    (F.lit(lam) * F.col("rel")
                     - F.lit(one_minus) * F.col("max_sim")).alias("mmr_score"),
                )
            )
        w = Window.partitionBy("q").orderBy(
            F.desc("mmr_score"), F.asc("cid")
        )
        sel = (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("q", "cid", F.lit(step).alias("rank"), "mmr_score")
            .localCheckpoint(eager=True)
        )
        picked = sel if picked is None else picked.unionByName(sel)
        remaining = remaining.join(
            sel.select("q", "cid"), ["q", "cid"], "left_anti"
        )
    return picked.select(
        F.col("q").alias(query_col), "rank", F.col("cid").alias(id_col),
        "mmr_score",
    )


def knn_cosine_matryoshka(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_dims: int = 16,
    coarse_keep: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Staged (matryoshka-style) exact-rerank KNN: score every pair on only
    the FIRST ``coarse_dims`` dimensions, keep each query's ``coarse_keep``
    best coarse candidates, then re-rank just those with the full-dimension
    cosine — the two-tier retrieval pattern of matryoshka/truncation
    embeddings (coarse pass reads dim/coarse_dims of the vector bytes; the
    expensive full scoring touches only keep/N of the corpus).

    Unlike LSH/IVF this is NOT approximate-by-construction per tier — both
    tiers are exact arithmetic, so the whole operator is deterministic and
    oracle-checkable; recall vs full brute force depends on how front-loaded
    the embedding's information is (the matryoshka training objective).
    Same plan shape as `knn_cosine_bruteforce` twice: broadcast(queries) ×
    embeddings with window top-m, then window top-k over the slim candidate
    set. Coarse scores are rounded before ranking (id tiebreak) so the kept
    candidate set is identical across engines and partitionings.
    """
    prefix = F.slice(F.col(vec_col), 1, coarse_dims)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        prefix.alias("q_pre"),
    ).withColumn("q_pre_norm", safe_norm_expr("q_pre")).withColumn(
        "q_norm", safe_norm_expr("q_vec")
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        prefix.alias("n_pre"),
    ).withColumn("n_pre_norm", safe_norm_expr("n_pre")).withColumn(
        "n_norm", safe_norm_expr("n_vec")
    )
    coarse = (
        e.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", "q_vec", "n_vec", "q_norm", "n_norm",
            F.round(
                dot_expr("q_pre", "n_pre")
                / (F.col("q_pre_norm") * F.col("n_pre_norm")),
                round_dp,
            ).alias("_coarse"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("_coarse"), F.asc("neighbor_id")
    )
    cand = coarse.withColumn("_crank", F.row_number().over(wc)).filter(
        F.col("_crank") <= coarse_keep
    )
    full = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_expr("q_vec", "n_vec")
            / (F.col("q_norm") * F.col("n_norm")),
            round_dp,
        ).alias("cosine"),
    )
    wf_ = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        full.withColumn("rank", F.row_number().over(wf_))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate KNN result against the exact result —
    the standard ANN evaluation harness (every IVF/LSH/quantization knob
    trade is judged by this number before it ships).

    Per query: n_exact = |exact neighbor set|, n_hit = |exact ∩ approx|,
    recall = n_hit / n_exact (int/int division — engine-portable exact).

    Scale shape: both inputs are top-k tables (n_queries × k rows — tiny
    relative to the corpus that produced them), so the left join + one
    hash-agg shuffle is negligible next to the searches themselves; the
    join key is (query, neighbor) so skew is impossible (≤ k rows per
    query).

    Both inputs are de-duplicated on (query, neighbor) first: a duplicate
    pair in ``approx`` would otherwise fan out the left join and inflate
    n_exact AND n_hit (count(*) counts the multiplied rows), silently
    overstating recall. Top-k producers emit unique pairs, but the
    function accepts arbitrary DataFrames.
    """
    e = exact.select(F.col(query_col), F.col(neighbor_col)).dropDuplicates(
        [query_col, neighbor_col]
    )
    a = (
        approx.select(F.col(query_col), F.col(neighbor_col))
        .dropDuplicates([query_col, neighbor_col])
        .withColumn("_hit", F.lit(1))
    )
    return (
        e.join(a, on=[query_col, neighbor_col], how="left")
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .select(
            F.col(query_col),
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


# =========================================================================
# Product quantization (PQ) — the memory-side ANN tier (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search", public TPAMI paper).
# Complements the existing tiers: LSH (hash buckets), IVF (coarse
# partition), int8 SQ (uniform scalar codes) — PQ gives sub-vector k-means
# codes, 8× smaller than int8 at comparable recall, and Asymmetric
# Distance Computation (ADC) scores compressed codes against exact queries
# without decompressing.
# =========================================================================


def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    normalize: bool = False,
    use_arrow: bool = True,
) -> list[list[list[float]]]:
    """Fit PQ codebooks: split each vector into ``m`` contiguous
    sub-vectors and run deterministic Lloyd's (lowest-id init, no RNG)
    independently per subspace. Returns ``m`` codebooks of ``k``
    sub-centroids each (``m × k × dim/m``). ``normalize=True`` L2-
    normalizes rows first — squared L2 over unit vectors is monotonic in
    cosine, so the downstream ADC search ranks by the cosine metric the
    exact KNN tier uses.

    All m subspaces fit in ONE pass per iteration (Lloyd's is independent
    per subspace). Arrow path: each batch encodes with one matmul per
    subspace and emits per-(subspace, code) partial sub-vector sums via
    ``np.add.at`` — the shuffle carries m·k partial rows per batch, NOT
    the exploded data (the map-side-combine idea executed in numpy).
    ``use_arrow=False`` is the pure-expression form (posexplode + avg —
    same means up to float summation order; planted-data equality is
    pinned in tests). Only the codebook floats ever reach the driver.
    """
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    # Seed validation: a bounded lowest-id window (max(4k, 64) rows — a
    # request-sized collect, never data-sized) supplies per-subspace
    # seeds, deduplicated so Lloyd's never starts from duplicate
    # centroids; too few distinct sub-vectors raises instead of silently
    # fitting a degenerate <k codebook. When the first k rows are
    # already distinct per subspace (any real corpus) the seeds are
    # identical to the plain lowest-id-first init.
    window = [
        [float(x) for x in r[0]]
        for r in embeddings.orderBy(id_col)
        .select(vec_col)
        .limit(max(4 * k, 64))
        .collect()
    ]
    if len(window) < k:
        raise ValueError(
            f"pq_fit needs at least k={k} rows to seed; corpus has "
            f"{len(window)}"
        )
    if normalize:
        import math

        window = [
            [x / (math.sqrt(sum(v * v for v in row)) or 1.0) for x in row]
            for row in window
        ]
    books = []
    for s in range(m):
        seen: set[tuple[float, ...]] = set()
        seeds: list[list[float]] = []
        for row in window:
            sv = row[s * sub:(s + 1) * sub]
            key = tuple(sv)
            if key not in seen:
                seen.add(key)
                seeds.append(sv)
            if len(seeds) == k:
                break
        if len(seeds) < k:
            raise ValueError(
                f"pq_fit: subspace {s} has only {len(seeds)} distinct "
                f"sub-vectors in the first {len(window)} rows; need k={k}"
                " (reduce k or supply a more diverse corpus)"
            )
        books.append(seeds)

    if use_arrow:
        import numpy as np

        for _ in range(iters):
            partials = _pq_partials(embeddings, books, sub, vec_col, normalize)
            agg = (
                partials.groupBy("s", "c")
                .agg(
                    F.array(*[
                        F.sum(F.element_at("sums", d + 1)) for d in range(sub)
                    ]).alias("sums"),
                    F.sum("cnt").alias("cnt"),
                )
                .collect()
            )
            new_books = [[list(books[s][c]) for c in range(k)] for s in range(m)]
            for r in agg:
                if r.cnt:
                    new_books[r.s][r.c] = [x / r.cnt for x in r.sums]
            books = new_books
        return books

    base = embeddings
    if normalize:
        v = sql_ident(vec_col)
        base = base.select(
            F.col(id_col),
            F.expr(f"transform({v}, x -> CAST(x AS DOUBLE) / {_safe_norm_sql(v)})").alias(vec_col),
        )
    for _ in range(iters):
        enc = pq_encode(base, books, id_col, vec_col, use_arrow=False)
        per_dim = (
            enc.select(
                F.col("pq_codes"),
                F.posexplode(F.col(vec_col)).alias("pos", "val"),
            )
            .select(
                (F.col("pos") / sub).cast("int").alias("s"),
                F.element_at(
                    F.col("pq_codes"), (F.col("pos") / sub).cast("int") + 1
                ).alias("c"),
                (F.col("pos") % sub).alias("d"),
                F.col("val").cast("double").alias("val"),
            )
            .groupBy("s", "c", "d")
            .agg(F.avg("val").alias("mean"))
        )
        rows = per_dim.collect()
        new_books = [[list(books[s][c]) for c in range(k)] for s in range(m)]
        seen: set[tuple[int, int]] = set()
        for r in rows:
            new_books[r.s][r.c][r.d] = r.mean
            seen.add((r.s, r.c))
        books = [
            [new_books[s][c] if (s, c) in seen else books[s][c] for c in range(k)]
            for s in range(m)
        ]
    return books


def _pq_partials(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    sub: int,
    vec_col: str,
    normalize: bool,
) -> DataFrame:
    """One Arrow pass over the corpus: encode each batch against the
    current codebooks and emit per-(subspace, code) partial sub-vector
    sums + counts — m·k tiny rows per batch, a numpy map-side combine."""
    import numpy as np
    import pandas as pd

    m = len(books)
    k = len(books[0])
    B = [np.array(b, dtype=np.float64) for b in books]
    b_sq = [(C * C).sum(axis=1) for C in B]
    spark = embeddings.sparkSession

    def gen(batches):
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if not len(V):
                continue
            if normalize:
                n = np.linalg.norm(V, axis=1, keepdims=True)
                n[n == 0.0] = 1.0
                V = V / n
            out_s, out_c, out_sums, out_cnt = [], [], [], []
            for s in range(m):
                Vs = V[:, s * sub:(s + 1) * sub]
                d = b_sq[s][None, :] - 2.0 * (Vs @ B[s].T)
                codes = d.argmin(axis=1)
                sums = np.zeros((k, sub), dtype=np.float64)
                np.add.at(sums, codes, Vs)
                cnts = np.bincount(codes, minlength=k)
                nz = np.nonzero(cnts)[0]
                out_s.extend([s] * len(nz))
                out_c.extend(int(c) for c in nz)
                out_sums.extend(list(sums[c]) for c in nz)
                out_cnt.extend(int(cnts[c]) for c in nz)
            yield pd.DataFrame(
                {"s": out_s, "c": out_c, "sums": out_sums, "cnt": out_cnt}
            )

    return embeddings.select(vec_col).mapInPandas(
        gen, schema="s int, c int, sums array<double>, cnt long"
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = True,
    out_col: str = "pq_codes",
    normalize: bool = False,
) -> DataFrame:
    """Encode each vector as ``m`` small ints (nearest sub-centroid per
    subspace, squared L2, lowest-index tiebreak). A narrow map — no
    shuffle; at 100 TB this is the write path of a PQ index build and runs
    at scan speed. ``normalize=True`` L2-normalizes rows first (in numpy
    on the Arrow path — free next to the matmul).

    Arrow path: one (n × k) matmul per subspace per batch. Expression
    path (``use_arrow=False``): the ``array_min(struct(dist, idx))``
    argmin idiom — identical codes, pinned in tests."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if use_arrow:
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        B = [np.array(b, dtype=np.float64) for b in codebooks]
        b_sq = [(C * C).sum(axis=1) for C in B]

        @pandas_udf("array<int>")
        def codes(vecs):
            import pandas as pd

            V = np.array(vecs.tolist(), dtype=np.float64)
            if normalize and len(V):
                n = np.linalg.norm(V, axis=1, keepdims=True)
                n[n == 0.0] = 1.0
                V = V / n
            out = np.empty((V.shape[0], m), dtype=np.int32)
            for s in range(m):
                Vs = V[:, s * sub:(s + 1) * sub]
                d = b_sq[s][None, :] - 2.0 * (Vs @ B[s].T)
                out[:, s] = d.argmin(axis=1)
            return pd.Series(list(out))

        return embeddings.withColumn(out_col, codes(F.col(vec_col)))

    # codebook tables as ONE parsed SQL string (see _dot_sql — m×k×sub
    # F.lit py4j round trips otherwise dominate build time); identical
    # parsed trees, identical codes
    if normalize:
        vec_sql = (
            f"transform({vec_col}, x -> cast(x as double)"
            f" / coalesce(nullif(sqrt({_dot_sql(vec_col, vec_col)}), 0D),"
            " 1D))"
        )
    else:
        vec_sql = vec_col

    def sub_code_sql(s: int) -> str:
        sv = f"slice({vec_sql}, {s * sub + 1}, {sub})"
        structs = ",".join(
            f"named_struct('d', {_sq_dist_sql(sv, c)}, 'c', {j})"
            for j, c in enumerate(codebooks[s])
        )
        return f"array_min(array({structs})).c"

    codes_sql = "array(" + ",".join(sub_code_sql(s) for s in range(m)) + ")"
    return embeddings.withColumn(out_col, F.expr(codes_sql))


def pq_search(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    pre_encoded: DataFrame | None = None,
    normalize: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """PQ approximate top-k by Asymmetric Distance Computation: each query
    precomputes an ``m × k`` table of exact squared distances from its
    sub-vectors to every sub-centroid (ONE row-local expression over the
    tiny query set), then every (query, code) pair scores as ``m`` table
    lookups — no decompression, no per-pair arithmetic beyond the m adds.

    Plan shape: broadcast(queries + their distance tables) × encoded
    corpus → per-pair ADC sum (statically unrolled — stays in codegen)
    → per-query top-k window. The big side never shuffles; the quadratic
    stage touches only the m-int codes, not the d-float vectors — at
    100 TB the scan reads ~3% of the raw-vector bytes (m=8 ints vs 64
    floats). Distances are rounded before ranking (id tiebreak) for
    cross-run determinism. ``normalize=True`` ranks by cosine (unit-
    vector squared L2); fit/encode/search must agree on it.

    ``exclude_self=True`` (the self-search convention: queries drawn
    from the corpus) drops pairs whose ids are equal. Pass ``False``
    when the query table is EXTERNAL — there an id collision is
    coincidence, not identity, and the excluded row is a valid neighbor.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    enc = (
        pre_encoded
        if pre_encoded is not None
        else pq_encode(embeddings, codebooks, id_col, vec_col, normalize=normalize)
    )
    e = enc.select(F.col(id_col).alias("neighbor_id"), F.col("pq_codes"))

    # The m×k distance tables are computed DRIVER-SIDE in numpy from the
    # collected query vectors and shipped as plain data. An ANN query set
    # is request-sized (tens to thousands of rows), never data-sized, so
    # this collect is aggregate-sized by contract — the same rule the
    # IVF/k-means tier applies to centroids. The expression-tree
    # alternative (m·k nested zip_with/aggregate folds per query row)
    # costs more in driver ANALYSIS time than the whole search at any
    # scale, and evaluates interpreted.
    import numpy as np

    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    tables = []
    for r in qrows:
        v = np.asarray(r[1], dtype=np.float64)
        if normalize:
            nrm = float(np.linalg.norm(v))
            v = v / (nrm or 1.0)
        dt = [
            [
                float(((v[s * sub:(s + 1) * sub] - np.asarray(c)) ** 2).sum())
                for c in codebooks[s]
            ]
            for s in range(m)
        ]
        tables.append((r[0], dt))
    q = driver_frame(
        embeddings.sparkSession,
        {"query_id": [t[0] for t in tables], "_dt": [t[1] for t in tables]},
        f"query_id {dict(queries.dtypes)[id_col]}, _dt array<array<double>>",
    )
    # the per-pair ADC sum is STATICALLY unrolled over the m subspaces
    # (m is known from the codebooks): m element_at lookups joined by
    # plain `+` stay inside whole-stage codegen, where the equivalent
    # F.aggregate(sequence(...)) higher-order fold would evaluate
    # interpreted per pair — on the quadratic (query × corpus) stage
    # that interpretation tax is the whole runtime
    adc = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col("_dt"), s + 1),
            F.element_at(F.col("pq_codes"), s + 1) + 1,
        )
        adc = term if adc is None else adc + term
    pair_cond = (
        F.col("query_id") != F.col("neighbor_id")
        if exclude_self
        else F.lit(True)
    )
    scored = (
        e.join(F.broadcast(q), pair_cond)
        .select(
            "query_id",
            "neighbor_id",
            F.round(adc, round_dp).alias("adc_sq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_sq_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_sq_dist", "rank")
    )


def ivfpq_index(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = False,
) -> DataFrame:
    """Build the IVF-PQ index relation: each vector gets its coarse
    ``cluster_id`` (nearest IVF centroid) and its ``pq_codes``. Two narrow
    Arrow maps over one scan — no shuffle; at 100 TB this is the index
    write path and the output (id + 1 int + m bytes) is ~2% of the raw
    vector bytes. Codes quantize the RAW vectors (not per-cluster
    residuals — the FAISS ``IVFPQ`` residual refinement is a recall/
    simplicity trade; raw codes keep the PQ codebook independent of the
    coarse quantizer so either half can be refit alone)."""
    base = embeddings
    if normalize:
        base = _l2_normalized(embeddings, id_col, vec_col)
    assigned = ivf_assign(base, centroids, id_col, vec_col)
    return pq_encode(assigned, codebooks, id_col, vec_col)


def _l2_normalized(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Arrow-batched row L2-normalization (numpy — the expression-HOF
    form costs more in interpretation than the whole downstream search;
    zero-norm rows pass through unchanged)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def normed(vecs):
        import pandas as pd

        V = np.array(vecs.tolist(), dtype=np.float64)
        if len(V):
            n = np.linalg.norm(V, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            V = V / n
        return pd.Series(list(V))

    return embeddings.withColumn(vec_col, normed(F.col(vec_col)))


def ivfpq_search(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    pre_indexed: DataFrame | None = None,
    normalize: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ approximate top-k — the production ANN architecture (FAISS
    ``IVFPQ``, Jégou et al. 2011 §V): the coarse quantizer confines each
    query to its ``nprobe`` nearest clusters, and within them candidates
    score by PQ Asymmetric Distance Computation. Each query touches
    ~nprobe/|centroids| of the corpus CODES (not vectors); recall grows
    with nprobe, and nprobe = |centroids| + lossless codebooks = exact
    search (pinned in tests).

    Plan shape: the probe list (query_id, cluster_id, m×k distance
    table) is computed DRIVER-SIDE from the collected query set
    (request-sized by contract — the pq_search rule) and equi-joins the
    index on ``cluster_id`` — a broadcast hash join against cluster-
    partitioned codes, NOT the pq_search broadcast-nested-loop over the
    whole corpus. Per-pair cost is the statically-unrolled m-lookup ADC
    sum inside codegen.
    """
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    idx = (
        pre_indexed
        if pre_indexed is not None
        else ivfpq_index(
            embeddings, centroids, codebooks, id_col, vec_col, normalize
        )
    )
    e = idx.select(
        F.col(id_col).alias("neighbor_id"), "cluster_id", "pq_codes"
    )
    C = np.asarray(centroids, dtype=np.float64)
    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    probe_rows = []
    for r in qrows:
        v = np.asarray(r[1], dtype=np.float64)
        if normalize:
            nrm = float(np.linalg.norm(v))
            v = v / (nrm or 1.0)
        coarse = ((C - v) ** 2).sum(axis=1)
        # deterministic nprobe pick: distance, then centroid index
        probed = sorted(range(len(C)), key=lambda c: (coarse[c], c))[:nprobe]
        dt = [
            [
                float(((v[s * sub:(s + 1) * sub] - np.asarray(cb)) ** 2).sum())
                for cb in codebooks[s]
            ]
            for s in range(m)
        ]
        for c in probed:
            probe_rows.append((r[0], int(c), dt))
    q = driver_frame(
        embeddings.sparkSession,
        {
            "query_id": [r[0] for r in probe_rows],
            "cluster_id": [r[1] for r in probe_rows],
            "_dt": [r[2] for r in probe_rows],
        },
        f"query_id {dict(queries.dtypes)[id_col]}, "
        "cluster_id int, _dt array<array<double>>",
    )
    adc = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col("_dt"), s + 1),
            F.element_at(F.col("pq_codes"), s + 1) + 1,
        )
        adc = term if adc is None else adc + term
    scored = (
        e.join(F.broadcast(q), "cluster_id")
        # exclude_self: same external-query-table contract as pq_search
        .filter(
            F.col("query_id") != F.col("neighbor_id")
            if exclude_self
            else F.lit(True)
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(adc, round_dp).alias("adc_sq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_sq_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_sq_dist", "rank")
    )


def ivf_balance_report(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
) -> DataFrame:
    """IVF index health report: per-cluster population, share, and load
    factor (n_vecs·k / n — 1.0 = perfectly balanced). The number that
    decides whether an IVF index is USABLE at scale: a cluster holding
    20% of a 100 TB corpus makes every probe touching it a fifth-of-the-
    data scan regardless of nprobe, and the fix (re-fit, split the hot
    cluster, or spill to a finer quantizer) starts from exactly this
    table (FAISS's imbalance_factor diagnostic).

    Defaults to the pure-expression assignment so the report is
    oracle-checkable with FIXED centroids (the vec_ivfpq_adc twin
    pattern); pass use_arrow=True for the production fitted-index path
    (equality of the two assignments is pinned in tests).

    Scale: the assignment is a narrow broadcast map; the report is one
    k-row hash agg + a k-row window. Output: (cluster_id, n_vecs, share,
    load_factor), int/int divisions in fixed operand order.
    """
    from pyspark.sql.window import Window

    k = len(centroids)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col, use_arrow)
    counts = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    n = F.sum("n_vecs").over(Window.partitionBy())
    return counts.select(
        "cluster_id",
        "n_vecs",
        (F.col("n_vecs") / n).alias("share"),
        (F.col("n_vecs") * F.lit(k) / n).alias("load_factor"),
    ).orderBy("cluster_id")


def knn_label_vote(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification over an embedding column →
    ``(query_id, true_label, predicted_label, votes, correct)`` (Cover &
    Hart '67, public literature). The evaluation read on top of
    :func:`knn_cosine_bruteforce`: when the label is a cluster/topic/
    source id, the vote agreement rate is the standard probe for "does
    this embedding space separate my classes" — run it BEFORE spending
    on an ANN index over a space that doesn't.

    Determinism: neighbors come from the rounded-cosine ranked top-k
    (id tie-break, the knn convention); the vote picks
    (votes DESC, label ASC) — an exact integer/order rule, so the
    predicted label is engine-portable even when two labels tie.

    Scale: the kNN plan (broadcast queries × embeddings) dominates; the
    vote adds one broadcast of the slim (id, label) projection and two
    |queries·k|-sized aggregates.
    """
    nn = knn_cosine_bruteforce(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    lbl = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_nl"),
    )
    votes = (
        nn.join(F.broadcast(lbl), "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("_nl")
    )
    pred = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            "query_id",
            F.col("_nl").alias("predicted_label"),
            "votes",
        )
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("true_label"),
    )
    return (
        pred.join(F.broadcast(truth), "query_id")
        .select(
            "query_id", "true_label", "predicted_label", "votes",
            (F.col("predicted_label") == F.col("true_label"))
            .alias("correct"),
        )
        .orderBy("query_id")
    )
