"""Sketch/approximate aggregation operators — the cardinality/quantile/
frequency estimators a 100 TB pipeline uses where exact answers would
shuffle the world (cf. HyperLogLog: Flajolet et al. '07; count-min: Cormode
& Muthukrishnan '05; Greenwald-Khanna quantiles).

All wrap Spark's built-in JVM sketch implementations (one pass, mergeable
partials — cluster-friendly by construction). Approximate by design →
verified by error-bound tests against exact answers, not the DuckDB oracle
(different engines' sketches differ legitimately).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_flink_essentials_spark.session import driver_frame


def approx_distinct(
    df: DataFrame, col: str, keys: Sequence[str] = (), rsd: float = 0.05
) -> DataFrame:
    """HyperLogLog++ distinct count, mergeable across partitions; rsd is the
    target relative standard deviation (smaller → bigger sketch)."""
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.approx_count_distinct(col, rsd=rsd).alias(f"approx_distinct_{col}")
    )


def hll_sketch_partials(df: DataFrame, col: str, keys: Sequence[str] = ()) -> DataFrame:
    """Re-aggregatable HLL sketch column (binary) — the pattern for rollup
    tables: store per-partition/per-day sketches, union later without
    rescanning (hll_sketch_agg/hll_union_agg, Spark 3.5+)."""
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.hll_sketch_agg(col).alias(f"hll_{col}")
    )


def hll_merge(df: DataFrame, sketch_col: str, keys: Sequence[str] = ()) -> DataFrame:
    """Merge stored sketches and resolve to an estimate."""
    merged = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.hll_union_agg(sketch_col).alias("merged")
    )
    return merged.select(
        *[F.col(k) for k in keys], F.hll_sketch_estimate("merged").alias("estimate")
    )


def approx_quantiles(
    df: DataFrame,
    col: str,
    probabilities: Sequence[float] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Greenwald-Khanna approximate quantiles as an aggregate expression
    (percentile_approx) — one pass, mergeable."""
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.percentile_approx(
            col, F.array(*[F.lit(p) for p in probabilities]), F.lit(accuracy)
        ).alias("quantiles")
    )


def frequent_items(df: DataFrame, col: str, support: float = 0.01) -> DataFrame:
    """Heavy hitters above a support threshold (Karp et al. one-pass
    algorithm via DataFrame.freqItems)."""
    return df.freqItems([col], support)


def portable_hll_distinct(
    df: DataFrame, col: str, keys: Sequence[str] = (), p: int = 8
) -> DataFrame:
    """Engine-portable HyperLogLog distinct estimate (Flajolet et al. '07)
    built from FIRST PRINCIPLES on deterministic md5 arithmetic — unlike
    `approx_distinct` (Spark's opaque HLL++ binary sketch), every
    intermediate here is reproducible bit-for-bit by any SQL engine, so
    the estimate itself is oracle-checkable and sketch tables written by
    this op can be merged by OTHER systems (the lakehouse-rollup
    interchange case; cf. the Apache DataSketches portability argument).

    Per row: a 48-bit hash (md5-prefix, the `winnow_fingerprints` idiom)
    splits into a ``2^p``-way bucket and a 40-bit remainder whose
    leading-zero rank is ``41 - bit_length`` via the integer-exact
    ``length(bin(w))`` — no floats anywhere in the sketch. The register
    sum is carried as ``Σ 2^(41 - M_j)`` in BIGINT (order-independent,
    exact; ``= 2^41 · Σ 2^-M_j``), empty buckets contributing ``2^41``
    via the closed-form ``V·2^41`` term, so the only float is the final
    estimate division — identical integer operands → bit-identical
    doubles. The small-range branch (``E ≤ 2.5m`` with empty buckets →
    linear counting ``m·ln(m/V)``) is the one transcendental and is
    round(4)-absorbed per the registry convention.

    Scale shape: map-side-combined ``max(rho)`` partials per (key,
    bucket) — the shuffle carries at most ``keys × 2^p`` rows (the
    sketch, NOT the data) — then a ``2^p``-row-per-key rollup. This is
    the textbook mergeable-sketch topology: per-partition partials union
    without rescanning, exactly how a 100 TB daily-rollup table stays
    incremental.
    """
    partials = portable_hll_partials(df, col, keys=keys, p=p)
    return portable_hll_merge(partials, keys=keys, p=p)


def portable_hll_partials(
    df: DataFrame, col: str, keys: Sequence[str] = (), p: int = 8
) -> DataFrame:
    """The mergeable half of ``portable_hll_distinct``: per-(key, bucket)
    ``max(rho)`` registers — at most ``keys × 2^p`` integer rows, the
    relation a rollup table STORES. Partials from different passes /
    days / engines union and re-merge losslessly (max is associative and
    idempotent), which is the whole sketch-interchange point: write
    per-day partials at ingest, merge any date range later without
    rescanning. Integer-exact → any SQL engine reproduces them
    bit-for-bit. Runs unchanged as complete-mode stream state; a
    duplicated delivery cannot change a register."""
    m = 1 << p
    rem_bits = 48 - p
    max_rho = rem_bits + 1
    hashed = df.selectExpr(
        *(f"`{k}`" for k in keys),
        f"cast(conv(substring(md5(cast(`{col}` as string)), 1, 12), 16, 10)"
        " as bigint) AS _h",
    ).selectExpr(
        *(f"`{k}`" for k in keys),
        f"_h % {m} AS _bucket",
        f"cast(floor(_h / {m}.0) as bigint) AS _w",
    )
    ranked = hashed.selectExpr(
        *(f"`{k}`" for k in keys),
        "_bucket",
        f"case when _w = 0 then {max_rho}"
        f" else {max_rho} - length(bin(_w)) end AS _rho",
    )
    return ranked.groupBy(
        *[F.col(k) for k in keys], F.col("_bucket")
    ).agg(F.max("_rho").alias("_mx"))


def hll_raw_numerator(p: int = 8) -> float:
    """The HLL raw-estimate numerator ``alpha_m * m^2 * 2^(max_rho)``
    FOLDED IN PYTHON and inlined as ONE double literal on both engines
    (the Benford-literal discipline). Engine-side constant arithmetic
    diverges: Spark parses ``0.7213`` as DECIMAL and loses precision in
    the decimal division chain (~6e-6 relative — sf0.1 exposed it),
    while DuckDB's ``/`` promotes to DOUBLE; a single literal removes
    the whole question."""
    m = 1 << p
    max_rho = 48 - p + 1
    return (0.7213 / (1.0 + 1.079 / m)) * float(m) * float(m) * float(
        1 << max_rho
    )


def portable_hll_merge(
    partials: DataFrame, keys: Sequence[str] = (), p: int = 8
) -> DataFrame:
    """Merge stored portable-HLL partials (possibly from many passes —
    re-max per bucket) and resolve the estimate. ``merge(partials(A) ∪
    partials(B)) == one_shot(A ∪ B)`` EXACTLY, because the registers are
    integer maxima; the equality is pinned in tests."""
    m = 1 << p
    rem_bits = 48 - p
    max_rho = rem_bits + 1
    # re-max: inputs may contain several partial rows per (key, bucket)
    partials = partials.groupBy(
        *[F.col(k) for k in keys], F.col("_bucket")
    ).agg(F.max("_mx").alias("_mx"))
    # numerator folded in Python, ONE literal in the plan (see
    # hll_raw_numerator): Spark parses 0.7213 as DECIMAL and its
    # decimal division chain loses ~6e-6 relative vs the IEEE chain
    num = hll_raw_numerator(p)
    two_pow_max = 1 << max_rho
    rolled = partials.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("_present"),
        F.expr(f"sum(shiftleft(cast(1 as bigint), {max_rho} - _mx))").alias(
            "_s_present"
        ),
    )
    est = rolled.selectExpr(
        *(f"`{k}`" for k in keys),
        f"{m} - _present AS v_empty",
        f"_s_present + ({m} - _present) * cast({two_pow_max} as bigint)"
        " AS register_sum",
    ).selectExpr(
        *(f"`{k}`" for k in keys),
        "v_empty",
        "register_sum",
        f"{num!r} / cast(register_sum as double) AS _raw",
    )
    return est.selectExpr(
        *(f"`{k}`" for k in keys),
        "v_empty",
        "register_sum",
        f"case when _raw <= {2.5 * m} and v_empty > 0"
        f" then round(cast({m} as double)"
        f" * ln(cast({m} as double) / v_empty), 4)"
        " else _raw end AS hll_distinct",
    )


def countmin_topk(
    df: DataFrame,
    col: str,
    k: int = 10,
    depth: int = 3,
    width: int = 512,
) -> DataFrame:
    """Heavy hitters by count-min sketch estimate (Cormode & Muthukrishnan
    '05), engine-portable: ``depth`` independent md5-seeded hash rows of
    ``width`` counters; a value's estimate is the MIN of its ``depth``
    bucket counts — a deterministic one-sided overestimate
    (``est ≥ true``, pinned in tests), here surfaced next to the exact
    count so the error is driver-visible.

    Scale shape: the sketch is a single (seed, bucket) hash aggregate of
    ``depth × width`` rows — map-side combined, so the shuffle carries
    the COUNTER GRID, not the data — and the estimate step equi-joins
    the (value, seed, bucket) keys against that grid with a broadcast
    hint (the grid is KB-sized by construction at ANY input scale: its
    cardinality is a parameter, not a function of the data). At 100 TB
    the candidate set for ranking comes from the same distinct-values
    aggregate the exact counts need; a production caller with an
    unbounded key domain would pre-filter candidates with
    `frequent_items` — noted here rather than silently capped.

    Output: top-``k`` values by (est_count desc, value asc) with both
    ``est_count`` and ``true_count``.
    """
    item_buckets = _countmin_buckets(df, col, depth, width).groupBy(
        "item", "_seed", "_bucket"
    ).agg(F.count(F.lit(1)).alias("_true_part"))
    est = (
        item_buckets.join(
            F.broadcast(countmin_grid(df, col, depth, width)),
            ["_seed", "_bucket"],
        )
        .groupBy("item")
        .agg(
            F.min("_cnt").alias("est_count"),
            # each seed row carries the same per-item count; max == the
            # item's true count (no cross-seed double count)
            F.max("_true_part").alias("true_count"),
        )
    )
    return est.orderBy(F.desc("est_count"), F.asc("item")).limit(k)


def _countmin_buckets(
    df: DataFrame, col: str, depth: int, width: int
) -> DataFrame:
    """``(item, _seed, _bucket)`` — one row per input row and hash row:
    the md5-seeded bucket of each value under each of ``depth`` seeds."""
    seeds = ", ".join(str(s) for s in range(depth))
    return df.selectExpr(
        f"`{col}` AS item",
        f"explode(array({seeds})) AS _seed",
    ).selectExpr(
        "item",
        "_seed",
        "cast(conv(substring(md5(concat(cast(_seed as string), ':',"
        f" cast(item as string))), 1, 8), 16, 10) as bigint) % {width}"
        " AS _bucket",
    )


def countmin_grid(
    df: DataFrame, col: str, depth: int = 3, width: int = 512
) -> DataFrame:
    """The count-min counter grid ``(_seed, _bucket, _cnt)`` — the
    sketch's whole state: depth×width rows (a parameter, not a function
    of the data) of associative integer counts, so it runs unchanged as
    complete-mode stream state and the drained grid equals the batch
    grid in any arrival order. Query it with
    :func:`countmin_estimate_from_grid`."""
    return _countmin_buckets(df, col, depth, width).groupBy(
        "_seed", "_bucket"
    ).agg(F.count(F.lit(1)).alias("_cnt"))


def countmin_estimate_from_grid(
    grid: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = 3,
    width: int = 512,
) -> DataFrame:
    """Estimate counts for a candidate item relation from a finished
    :func:`countmin_grid` (batch or drained stream state): bucket each
    distinct item, broadcast-join the KB-sized grid, and take the
    min-over-seeds — ``(item, est_count)``, the one-sided overestimate
    contract (est ≥ true, pinned in tests)."""
    item_buckets = _countmin_buckets(
        items.select(col).distinct(), col, depth, width
    )
    return (
        item_buckets.join(F.broadcast(grid), ["_seed", "_bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("_cnt"), F.lit(0))).alias("est_count"))
        .orderBy("item")
    )


def top_k_by_count(df: DataFrame, col: str | Column, k: int = 10) -> DataFrame:
    """Exact top-k heavy hitters: hash-agg + TakeOrderedAndProject — the
    exact companion to frequent_items (one shuffle, k-row driver merge)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        df.groupBy(c.alias("item"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("item"))
        .limit(k)
    )


def quantile_histogram_partials(
    df: DataFrame,
    col: str,
    vmin: Column | float,
    vmax: Column | float,
    n_buckets: int = 256,
) -> DataFrame:
    """The mergeable half of ``portable_quantile_bands``: equal-width
    histogram counts over FIXED bounds ``[vmin, vmax]`` — the relation a
    rollup table stores. Partials from different passes / days union and
    re-merge losslessly (counts are additive integers), exactly like
    ``portable_hll_partials``; any SQL engine reproduces the bucket ids
    bit-for-bit because the only float ops are one subtraction, one
    division, and one floor over IEEE doubles in a fixed operand order.
    Values above/below the bounds clamp to the edge buckets, so partials
    stay mergeable when a later day's data exceeds the bounds the sketch
    was sized with. Degenerate ranges are safe: when ``(vmax−vmin)/n``
    UNDERFLOWS to 0.0 (bounds closer than ~n·5e-324 — hypothesis found
    the subnormal pair (0.0, 5e-324)), every value lands in bucket 0
    instead of tripping ANSI divide-by-zero; the one-bucket-width error
    bound then holds trivially."""
    lo = F.lit(vmin) if isinstance(vmin, (int, float)) else vmin
    hi = F.lit(vmax) if isinstance(vmax, (int, float)) else vmax
    width = (hi - lo) / float(n_buckets)
    bucket = F.when(
        width > 0,
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(
                F.floor((F.col(col) - lo) / width),
                F.lit(n_buckets - 1).cast("bigint"),
            ),
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def portable_quantile_bands(
    df: DataFrame,
    col: str,
    n_buckets: int = 256,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Engine-portable approximate quantiles from an equal-width histogram
    (the classic pre-sketch estimator; cf. Greenwald-Khanna '01 for the
    adaptive successor): pass 1 computes exact (min, max, count), pass 2
    the ``n_buckets`` equal-width bucket counts, and each requested
    quantile resolves to the bucket containing rank ``ceil(q·n)`` with
    linear interpolation inside the bucket. Unlike Spark's
    ``percentile_approx`` (an opaque JVM sketch) every intermediate here
    is deterministic integer-or-fixed-order-IEEE arithmetic, so the
    estimate is oracle-checkable bit-for-bit AND the stored partials
    (``quantile_histogram_partials``) can be merged by other engines —
    the same lakehouse-interchange argument as ``portable_hll_distinct``.

    Error bound: the estimate is within one bucket width of the true
    quantile, i.e. ``(max-min)/n_buckets`` absolute — pinned in tests
    against the exact percentile.

    Scale shape: two map-side-combined aggregates; the second shuffle
    carries at most ``n_buckets`` integer rows (the sketch, not the
    data). The stats row and the quantile literals are broadcast; the
    cumulative window runs over ``n_buckets`` rows on one task —
    aggregate-sized by construction at ANY input scale.

    Output: one row per requested quantile — (q, target_rank, bucket,
    est) with ``est`` rounded to 6 dp (registry float convention).
    """
    stats = (
        df.where(F.col(col).isNotNull())
        .agg(
            F.min(col).alias("_vmin"),
            F.max(col).alias("_vmax"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    with_stats = df.where(F.col(col).isNotNull()).crossJoin(F.broadcast(stats))
    hist = quantile_histogram_partials(
        with_stats, col, F.col("_vmin"), F.col("_vmax"), n_buckets
    )
    return quantiles_from_histogram(hist, stats, n_buckets, quantiles)


def quantiles_from_histogram(
    hist: DataFrame,
    stats: DataFrame,
    n_buckets: int = 256,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Resolve quantile estimates from stored histogram partials + a
    (min, max, count) stats row: re-sum per bucket (inputs may carry
    several partial rows per bucket — the merge step), cumulate, locate
    the bucket holding rank ``ceil(q·n)``, interpolate. Window + joins
    all run over ``n_buckets``-sized relations."""
    from pyspark.sql.window import Window

    merged = hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = merged.select(
        "bucket",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    )
    qs = driver_frame(hist.sparkSession, {"q": [float(q) for q in quantiles]}, "q double")
    joined = (
        qs.crossJoin(F.broadcast(stats))
        .withColumn("target_rank", F.ceil(F.col("q") * F.col("_n")))
        .join(
            F.broadcast(cum),
            (F.col("cum_before") < F.col("target_rank"))
            & (F.col("cum_before") + F.col("cnt") >= F.col("target_rank")),
        )
    )
    width = (F.col("_vmax") - F.col("_vmin")) / float(n_buckets)
    est = F.col("_vmin") + width * (
        F.col("bucket")
        + (F.col("target_rank") - F.col("cum_before")) / F.col("cnt")
    )
    return joined.select(
        "q",
        "target_rank",
        "bucket",
        F.round(est, 6).alias("est"),
    ).orderBy("q")


def grouped_quantile_bands(
    df: DataFrame,
    col: str,
    keys: Sequence[str],
    n_buckets: int = 128,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group ``portable_quantile_bands``: each key gets its own exact
    (min, max, count) bounds and an equal-width histogram, so the
    estimate quality is uniform across groups with different value
    ranges (a global-bounds histogram would starve narrow groups of
    resolution). Same determinism argument as the global form; requires
    every group to have vmax > vmin.

    Scale: the stats aggregate is keys-sized and broadcast back onto the
    scan; the histogram shuffle carries at most |keys| × n_buckets
    integer rows; cumulation windows run per key over n_buckets rows.

    Output: one row per (key..., q).
    """
    from pyspark.sql.window import Window

    kcols = [F.col(k) for k in keys]
    nn = df.where(F.col(col).isNotNull())
    stats = nn.groupBy(*kcols).agg(
        F.min(col).alias("_vmin"),
        F.max(col).alias("_vmax"),
        F.count(F.lit(1)).alias("_n"),
    )
    joined = nn.join(F.broadcast(stats), list(keys))
    width = (F.col("_vmax") - F.col("_vmin")) / float(n_buckets)
    bucket = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.floor((F.col(col) - F.col("_vmin")) / width),
            F.lit(n_buckets - 1).cast("bigint"),
        ),
    )
    hist = joined.groupBy(*kcols, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        *kcols,
        F.col("bucket"),
        F.col("cnt"),
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    )
    qs = driver_frame(df.sparkSession, {"q": [float(q) for q in quantiles]}, "q double")
    withq = (
        stats.crossJoin(F.broadcast(qs))
        .withColumn("target_rank", F.ceil(F.col("q") * F.col("_n")))
        .join(
            cum,
            [
                *(list(keys)),
            ],
        )
        .where(
            (F.col("cum_before") < F.col("target_rank"))
            & (F.col("cum_before") + F.col("cnt") >= F.col("target_rank"))
        )
    )
    est = F.col("_vmin") + width * (
        F.col("bucket")
        + (F.col("target_rank") - F.col("cum_before")) / F.col("cnt")
    )
    return withq.select(
        *kcols,
        "q",
        "target_rank",
        "bucket",
        F.round(est, 6).alias("est"),
    ).orderBy(*keys, "q")


def bloom_fpr_audit(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter false-positive audit (Bloom '70) → ONE row
    ``(n_inserted, n_probed, bits_set, n_false_positive, observed_fpr,
    theoretical_fpr)``: build the bit set an ``(m, k)`` Bloom filter
    would hold for the DISTINCT keys of ``df_a``, probe it with the
    distinct keys of ``df_b`` that are NOT in A (anti-joined, so every
    hit is by definition a false positive), and compare the observed
    rate against the textbook ``(1 − e^{−k·n/m})^k``. THE
    pre-deployment read before trusting a Bloom prefilter (a semi-join
    pushdown, a dedup pre-screen) at a given sizing.

    Portability: bit positions are the md5-prefix integers of the
    portable-HLL idiom — ``conv(md5(i || ':' || key)) % m`` — so the
    bit set, the per-probe hit counts and the false-positive count are
    all EXACT integers; ``observed_fpr`` is an int/int rational
    (unrounded) and only the theoretical curve (exp/pow) is
    transcendental → round(6).

    Scale: A collapses to ≤ m distinct bit rows (the filter, never the
    data); probes explode to k rows each and semi-join the bit set on
    the position key — a keyed join of slim integer rows; one final
    1-row aggregate. The filter itself shuffles as at most m rows.
    """
    def positions(el: DataFrame) -> DataFrame:
        # el: distinct single-column (_e) keys → k (element, bit) rows
        return el.select(
            "_e",
            F.explode(
                F.array(*[
                    F.expr(
                        f"cast(conv(substring(md5(concat('{i}', ':', "
                        f"cast(_e as string))), 1, 12), 16, 10) as bigint)"
                        f" % {m_bits}"
                    ).alias(f"_p{i}")
                    for i in range(k)
                ])
            ).alias("_pos"),
        )
    # both key sets have two readers (positions + the count) — lazy-
    # checkpoint so the scan+distinct (and B's anti-join) run once
    a_el = df_a.select(F.col(col).alias("_e")).where(
        F.col("_e").isNotNull()
    ).distinct().localCheckpoint(eager=False)
    b_el = (
        df_b.select(F.col(col).alias("_e"))
        .where(F.col("_e").isNotNull())
        .distinct()
        .join(a_el, "_e", "left_anti")
        .localCheckpoint(eager=False)
    )
    bits = positions(a_el).select("_pos").distinct()
    bits = bits.localCheckpoint(eager=False)
    probe_hits = (
        positions(b_el)
        .join(bits, "_pos", "left_semi")
        .groupBy("_e")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .where(F.col("_hits") == k)
    )
    n_a = a_el.agg(F.count(F.lit(1)).alias("n_inserted"))
    n_b = b_el.agg(F.count(F.lit(1)).alias("n_probed"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    n_fp = probe_hits.agg(
        F.count(F.lit(1)).alias("n_false_positive")
    )
    return (
        n_a.crossJoin(F.broadcast(n_b))
        .crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(n_fp))
        .select(
            "n_inserted",
            "n_probed",
            "bits_set",
            "n_false_positive",
            F.when(
                F.col("n_probed") > 0,
                F.col("n_false_positive") / F.col("n_probed"),
            ).alias("observed_fpr"),
            F.round(
                F.pow(
                    F.lit(1.0)
                    - F.exp(
                        -F.lit(float(k))
                        * F.col("n_inserted").cast("double")
                        / F.lit(float(m_bits))
                    ),
                    F.lit(float(k)),
                ),
                6,
            ).alias("theoretical_fpr"),
        )
    )


def hll_set_ops(
    df: DataFrame,
    col: str,
    left_filter: Column,
    right_filter: Column,
    p: int = 8,
) -> DataFrame:
    """Distinct-count SET ALGEBRA from portable-HLL registers (the Theta-
    sketch use case on HLL machinery): |A| and |B| from their own
    registers, |A∪B| from the ELEMENTWISE MAX MERGE of the two partial
    register sets (exact sketch algebra — union of HLLs is lossless, the
    property rollup tables rely on), and |A∩B| by inclusion-exclusion
    |A|+|B|−|A∪B| (estimate of estimates — error compounds when the
    intersection is small relative to the union; surfaced raw, not
    clamped, so the caller sees the sign). Every register is integer-
    exact and the estimate arithmetic is fixed-order — oracle-checkable
    like ``portable_hll_distinct``.

    One scan, ONE merge: membership in A/B is exploded per row (a row
    can be in BOTH — overlapping filters are the whole point of set
    ops) into a (side, bucket) register aggregate; each partial row
    then fans out to its own side AND the ``union`` label, so a single
    keyed ``portable_hll_merge`` resolves left/right/union together
    (previously three independent merges re-derived the same partials —
    a 12-exchange plan). Intersection is a fixed-order scalar
    ``l + r − u`` off a one-row conditional pivot of the 3-row estimate
    relation. Shuffles carry at most ``3·2^p`` integer rows.

    Output: 4 rows — (set_op ∈ left|right|union|intersection, estimate).
    """
    sides = df.select(
        F.col(col),
        F.explode(
            F.array_compact(
                F.array(
                    F.when(left_filter, F.lit("left")),
                    F.when(right_filter, F.lit("right")),
                )
            )
        ).alias("side"),
    )
    partials = portable_hll_partials(sides, col, keys=("side",), p=p)
    fanned = partials.select(
        F.explode(F.array(F.col("side"), F.lit("union"))).alias("set_op"),
        "_bucket",
        "_mx",
    )
    base = portable_hll_merge(fanned, keys=("set_op",), p=p).select(
        "set_op", F.col("hll_distinct").alias("estimate")
    )
    base = base.localCheckpoint(eager=False)
    inter = base.agg(
        F.max(F.when(F.col("set_op") == "left", F.col("estimate"))).alias("_l"),
        F.max(F.when(F.col("set_op") == "right", F.col("estimate"))).alias("_r"),
        F.max(F.when(F.col("set_op") == "union", F.col("estimate"))).alias("_u"),
    ).select(
        F.lit("intersection").alias("set_op"),
        (F.col("_l") + F.col("_r") - F.col("_u")).alias("estimate"),
    )
    return base.unionByName(inter).orderBy("set_op")


def kmv_distinct(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """K-minimum-values cardinality estimate + exact audit → ONE row
    ``(n_exact, k_used, kth_hash, kmv_estimate, rel_error)``
    (Bar-Yossef et al. '02, public paper). The third distinct-count
    sketch next to HLL and linear counting: keep only the k SMALLEST
    hash values ever seen; the kth smallest pins down the hash density,
    so ``estimate = (k−1)·2^48 / h_(k)``. Like `sketch_bloom_fpr` this
    registers the estimator AND its ground truth side by side — the
    audit a pipeline runs before trusting the sketch at 1000× the data.

    Portability: the 48-bit md5-prefix hash is the `winnow_fingerprints`
    idiom — bit-identical on both engines — so the k-smallest set, the
    kth value, and the one int/int estimate all match exactly. When the
    true cardinality is below k the estimator degenerates; the row then
    reports the exact count as the estimate (the standard KMV rule).

    Scale: ONE distinct-hash aggregate (map-side combined), then a
    TakeOrderedAndProject top-k — the k-smallest never funnels the full
    hash set through one task; the exact count reads the same distinct
    aggregate through one reused exchange. At 100 TB the audit column is
    the expensive half — drop ``n_exact`` and the sketch runs in one pass
    over the scan.
    """
    h = F.expr(
        f"cast(conv(substring(md5(cast(`{col}` as string)), 1, 12),"
        f" 16, 10) as bigint)"
    )
    hashes = df.where(F.col(col).isNotNull()).select(h.alias("_h")).distinct()
    kth = (
        hashes.orderBy("_h").limit(k)
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.max("_h").alias("kth_hash"),
        )
    )
    exact = hashes.agg(F.count(F.lit(1)).alias("n_exact"))
    out = exact.crossJoin(F.broadcast(kth)).select(
        "n_exact",
        "k_used",
        "kth_hash",
        F.when(
            F.col("n_exact") < F.lit(k), F.col("n_exact").cast("double")
        ).otherwise(
            (F.lit(k - 1) * F.lit(2**48)) / F.col("kth_hash")
        ).alias("kmv_estimate"),
    ).select(
        "n_exact", "k_used", "kth_hash", "kmv_estimate",
        (
            (F.col("kmv_estimate") - F.col("n_exact"))
            / F.col("n_exact")
        ).alias("rel_error"),
    )
    return out


def kmv_jaccard(
    df_a: DataFrame, df_b: DataFrame, col: str, k: int = 256
) -> DataFrame:
    """KMV set-similarity estimate + exact audit → ONE row
    ``(k_used, n_exact_a, n_exact_b, n_exact_inter, jaccard_exact,
    jaccard_kmv, abs_error)`` (Beyer et al. '07 synopses / Broder's
    min-hash union trick, public papers): keep each side's k smallest
    distinct-value hashes, take the k smallest of their union, and
    estimate ``J ≈ |{h ∈ S_union : h ∈ S_a ∧ h ∈ S_b}| / k`` — the
    corpus-overlap screen that answers "how much does this new crawl
    intersect what we already have" from two sketch files without ever
    joining the corpora. Like `kmv_distinct` / `sketch_bloom_fpr`, the
    exact ground truth rides alongside — the audit run before trusting
    the sketch at 1000× the data (drop the exact columns and the sketch
    halves are two top-k passes).

    Portability: the 48-bit md5-prefix hash is the `winnow_fingerprints`
    idiom — bit-identical on both engines — so the k-min sets, the
    membership counts, and both int/int Jaccard rationals match exactly.
    When a side has fewer than k distinct values the union sketch sees
    the WHOLE side and the estimator is exact on that side's portion
    (standard small-set KMV behavior; k_used reports the actual size).

    Scale: per side one distinct-hash agg (map-side combined) + a
    TakeOrderedAndProject top-k (never a one-task global sort); the
    union sketch and membership marking run on ≤ 2k rows; the exact
    audit reuses the two distinct relations via one semi-join and one
    union-distinct count.
    """
    def _hashes(df: DataFrame) -> DataFrame:
        h = F.expr(
            f"cast(conv(substring(md5(cast(`{col}` as string)), 1, 12),"
            " 16, 10) as bigint)"
        )
        return (
            df.where(F.col(col).isNotNull())
            .select(h.alias("_h"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    ha, hb = _hashes(df_a), _hashes(df_b)
    sa = ha.orderBy("_h").limit(k).select("_h", F.lit(1).alias("_in_a"))
    sb = hb.orderBy("_h").limit(k).select("_h", F.lit(1).alias("_in_b"))
    su = (
        sa.select("_h").unionAll(sb.select("_h"))
        .distinct().orderBy("_h").limit(k)
    )
    est = (
        su.join(F.broadcast(sa), "_h", "left")
        .join(F.broadcast(sb), "_h", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.sum(
                F.when(
                    F.col("_in_a").isNotNull()
                    & F.col("_in_b").isNotNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("_m"),
        )
    )
    na = ha.agg(F.count(F.lit(1)).cast("long").alias("n_exact_a"))
    nb = hb.agg(F.count(F.lit(1)).cast("long").alias("n_exact_b"))
    ni = ha.join(hb, "_h", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_inter")
    )
    return (
        est.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(ni))
        .select(
            "k_used", "n_exact_a", "n_exact_b", "n_exact_inter",
            F.when(
                (F.col("n_exact_a") + F.col("n_exact_b")
                 - F.col("n_exact_inter")) > 0,
                F.col("n_exact_inter")
                / (F.col("n_exact_a") + F.col("n_exact_b")
                   - F.col("n_exact_inter")),
            ).otherwise(F.lit(0.0)).alias("jaccard_exact"),
            F.when(
                F.col("k_used") > 0, F.col("_m") / F.col("k_used")
            ).otherwise(F.lit(0.0)).alias("jaccard_kmv"),
        )
        .select(
            "*",
            F.abs(
                F.col("jaccard_kmv") - F.col("jaccard_exact")
            ).alias("abs_error"),
        )
    )
