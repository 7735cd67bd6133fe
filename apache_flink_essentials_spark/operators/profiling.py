"""Data-profiling / diagnostics operators (SURVEY §2.10 north-star tier):
key-skew profiling, per-key z-score anomaly flagging, and column profiling.

These are the screens a 100 TB pipeline runs BEFORE choosing a physical
strategy: the skew profile tells you whether a join/agg key needs salting
(`skew.salted_agg`) or AQE skew-join; the column profile is the
null/cardinality audit that gates schema decisions; z-score flagging is the
standard per-entity anomaly sweep over metric streams.

Scale design:
  * key_skew_profile reduces to per-key counts first (ONE hash-agg shuffle
    with map-side partial aggregation — the full table is never re-shuffled),
    then takes a global top-N with ``orderBy().limit(n)`` (Spark plans
    TakeOrderedAndProject: per-partition top-N heaps merged on the driver,
    no global sort), and only then applies ordered-window arithmetic to the
    N surviving rows. The grand total rides along as a column computed in
    the same aggregation pass (re-aggregated from the tiny per-key counts),
    so the base table is scanned exactly once.
  * zscore_anomalies aggregates per-key moments (count / Σx / Σx²) in ONE
    decimal-exact shuffle, then broadcast-joins the |keys|-row stats table
    back onto the events — the big side is scanned once and never shuffled.
    Variance via E[x²]−E[x]² on deterministic doubles derived from exact
    decimal sums, so the flag boundary is engine-portable.
  * profile_columns computes every column's metrics in ONE aggregation over
    ONE scan (Spark plans multi-distinct aggregates with an Expand node),
    then unpivots the single result row with ``stack``. At 100 TB you would
    swap exact count-distinct for HLL (`sketches.py`) — noted per call site.

The reference (a Flink DataStream essentials repo) has no profiling surface;
these extend it per the BASELINE.json north-star contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 20) -> DataFrame:
    """Top-N heaviest keys with count, share of total, and cumulative share.

    Output: rnk (1-based, heaviest first), <key_col>, cnt, share, cum_share.
    Ties are broken by key ascending so the profile is deterministic.
    share/cum_share are BIGINT÷BIGINT rationals of exact counts — identical
    doubles in any engine (left unrounded by design).
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    # grand total from the tiny per-key counts (no second scan of df)
    total = counts.agg(F.sum("cnt").alias("total"))
    top = (
        counts.orderBy(F.desc("cnt"), F.asc(key_col))
        .limit(top_n)
        .join(F.broadcast(total))
    )
    w = (
        Window.orderBy(F.desc("cnt"), F.asc(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc(key_col)))
        .alias("rnk"),
        F.col(key_col),
        F.col("cnt"),
        (F.col("cnt").cast("double") / F.col("total")).alias("share"),
        (F.sum("cnt").over(w).cast("double") / F.col("total")).alias("cum_share"),
    )


def zscore_anomalies(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    threshold: float = 2.0,
) -> DataFrame:
    """Per-key z-score anomaly flags: rows where |value − μ_key| > t·σ_key.

    Moments are decimal-exact (``value`` is a 2-decimal metric in the events
    fixture, so DECIMAL(18,4) / DECIMAL(30,8) sums are lossless and
    order-independent); μ and population σ² are then derived in double from
    those exact sums, making the comparison boundary bit-identical across
    engines. z is emitted unrounded (identical operands → identical double).
    """
    v = F.col(value_col)
    stats = (
        df.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v.cast("decimal(18,4)")).cast("double").alias("s"),
            F.sum((v.cast("decimal(18,4)") * v.cast("decimal(18,4)")))
            .cast("double")
            .alias("ss"),
        )
        .select(
            key_col,
            (F.col("s") / F.col("n")).alias("mu"),
            F.sqrt(
                F.col("ss") / F.col("n") - (F.col("s") / F.col("n")) ** 2
            ).alias("sigma"),
        )
    )
    # σ = 0 (a key whose values are all equal) must yield NULL z — the
    # DuckDB x/0 behavior — not an ANSI DIVIDE_BY_ZERO abort; the NULL
    # then fails the |z| > t filter, so constant keys simply emit nothing
    z = F.when(
        F.col("sigma") > 0,
        (v.cast("double") - F.col("mu")) / F.col("sigma"),
    )
    return (
        df.join(F.broadcast(stats), key_col)
        .select(
            F.col(id_col),
            F.col(key_col),
            v.alias(value_col),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > F.lit(threshold))
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-scan column profile: per column, row count, null count, exact
    distinct count, and min/max rendered as strings (numeric min/max taken
    in the native type, THEN cast — not lexicographic).

    Output: col_name, n_rows, n_null, n_distinct, min_s, max_s.
    Exact count-distinct over many columns is the right call at audit scale;
    for a 100 TB continuous profile swap in HLL partials (`sketches.py`)
    and keep the same output contract.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__mn`, `{c}__mx`" for c in cols
    )
    return one.select(
        F.col("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_null, n_distinct, min_s, max_s)"
        ),
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s")


def value_histogram(
    df: DataFrame, value_col: str, bin_width: float = 5.0
) -> DataFrame:
    """Equal-width histogram of a numeric column: per bin, the row count and
    the decimal-exact value sum — the one-pass distribution profile a data
    pipeline runs before choosing partition bounds or clamping outliers.

    ONE hash aggregation whose key count = value-range / bin_width
    (independent of row count), so partial aggregation reduces each task's
    output to the bin inventory — at 100 TB the shuffle carries ~thousands
    of rows. Bin id = floor(value / width): one IEEE division + floor,
    bit-portable across engines; null values are excluded (their count is
    visible in profile_columns).
    """
    bin_start = (F.floor(F.col(value_col) / bin_width) * bin_width).alias(
        "bin_start"
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bin_start)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def grouped_covariance(
    df: DataFrame,
    key_col: str,
    x_col,
    y_col,
    min_n: int = 2,
) -> DataFrame:
    """Per-key population covariance between two metrics, decimal-exact:
    Sx, Sy, Sxy accumulate as DECIMAL (order-independent, lossless for
    fixed-point inputs), and cov = Sxy/n − (Sx/n)(Sy/n) is then a fixed
    dag of double ops over exact operands — bit-identical across engines
    and partitionings, like `zscore_anomalies`' moments.

    ``x_col``/``y_col`` accept Column expressions (e.g. an hour-of-day
    derived from the timestamp) — whatever is passed is cast to
    DECIMAL(18,4) before summing, so inputs must be fixed-point-
    representable at 4 decimals (true for metric columns and any integer
    derivation; raw transcendental inputs would need rounding first).

    Scale: ONE hash aggregation keyed by ``key_col``; partial aggregation
    ships three decimals + a count per (key × map task). The classic
    per-key feature-correlation profile at corpus scale.
    """
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("decimal(18,4)")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("decimal(18,4)")
    return (
        df.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
        .filter(F.col("n") >= min_n)
        .select(
            key_col,
            "n",
            (
                F.col("sxy") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
            ).alias("cov_pop"),
        )
    )


def expect(
    df: DataFrame,
    rules: dict[str, Column],
    sample_violations: int = 0,
    id_col: str | None = None,
) -> DataFrame:
    """Data-quality expectation report: each rule is a boolean Column that
    should hold for EVERY row; the report gives per-rule violation counts
    and rates in ONE scan (conditional aggregation — never one job per
    rule). The great-expectations-style gate of an ingestion pipeline,
    shaped for 100 TB: rule count scales the aggregate's width, not the
    number of passes.

    A null rule result counts as a violation (unknown ≠ pass). Rule names
    are arbitrary strings (aggregates alias by position, so dots/backticks
    in names are fine).

    ``sample_violations`` > 0 additionally returns up to that many example
    ids per failing rule, in ascending id order (deterministic under any
    partitioning; requires ``id_col``) — one extra filtered scan per rule,
    so ask for samples on the triage run, not the 100 TB gate.
    """
    names = list(rules)
    aggs = []
    for i, name in enumerate(names):
        bad = F.when(~F.coalesce(rules[name], F.lit(False)), 1).otherwise(0)
        aggs.append(F.sum(bad).alias(f"_v_{i}"))
    totals = df.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    reports = totals.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("rule"),
                    F.col(f"_v_{i}").cast("long").alias("violations"),
                    F.col("_n").cast("long").alias("n_rows"),
                    (F.col(f"_v_{i}").cast("double") / F.col("_n"))
                    .alias("violation_rate"),
                )
                for i, name in enumerate(names)
            ])
        ).alias("r")
    ).select("r.rule", "r.violations", "r.n_rows", "r.violation_rate")
    if sample_violations and id_col:
        samples = None
        for name in names:
            # Order on the NATIVE id column (numeric ids sample in numeric
            # order, not lexicographic '10' < '2'), cast to string only for
            # the output column.
            s = (
                df.filter(~F.coalesce(rules[name], F.lit(False)))
                .select(
                    F.lit(name).alias("rule"),
                    F.col(id_col).alias("_native_id"),
                    F.col(id_col).cast("string").alias("example_id"),
                )
                .orderBy("_native_id")
                .limit(sample_violations)
            )
            samples = s if samples is None else samples.unionByName(s)
        # Sort examples by the NATIVE id (numeric ids stay numeric-ordered,
        # not lexicographic '10' < '2'); array_sort over (native, string)
        # structs orders by the native field, then we project the string.
        return reports.join(
            samples.groupBy("rule").agg(
                F.expr("transform(array_sort(collect_list(struct(_native_id, example_id))), "
                       "x -> x.example_id)").alias("examples")
            ),
            "rule",
            "left",
        )
    return reports


def value_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Exact grouped percentiles — the p50/p95/p99 latency-style rollup.
    Uses Spark's EXACT ``percentile`` aggregate (linear interpolation over
    the sorted group, the same arithmetic DuckDB's ``quantile_cont`` runs,
    so doubles match bit-for-bit and the oracle hashes clean).

    Cost model: exact grouped percentiles sort each group — fine for
    bounded group counts (event types, endpoints, tenants). For a
    continuous 100 TB profile swap in `sketches.py` quantile sketches
    (mergeable partials, no sort) and keep this output contract.
    """
    arr = ",".join(repr(float(p)) for p in percentiles)
    pct = F.expr(f"percentile({value_col}, array({arr}))")
    cols = [
        F.count(F.lit(1)).alias("n"),
        *[
            F.element_at(pct, i + 1).alias(f"p{int(p * 100)}")
            for i, p in enumerate(percentiles)
        ],
    ]
    return df.groupBy(group_col).agg(*cols)


def ab_conversion_ztest(
    df: DataFrame,
    unit_col: str,
    variant_col: str,
    success_col: str,
    variant_a: str = "a",
    variant_b: str = "b",
) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: per-unit conversion
    (a unit converts if ANY of its rows has ``success_col`` true) rolled up
    to per-variant counts, then the pooled z-statistic
    ``(p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b))``.

    Engine-portable without quantization: the float dag's only inputs are
    the four exact integers (n_a, conv_a, n_b, conv_b), and IEEE division/
    sqrt of identical operands is bit-identical across engines — the same
    argument `zscore_anomalies` makes. One (unit, variant) partial-agg
    shuffle then a single-row reduction; nothing else moves at any scale.

    Output: one row — n/conversions/rate per variant, rate_diff, z_stat.
    """
    v = F.col(variant_col)
    per_unit = df.groupBy(unit_col, variant_col).agg(
        F.max(F.col(success_col).cast("int")).alias("_s")
    )
    agg = per_unit.agg(
        F.sum(F.when(v == variant_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(v == variant_a, F.col("_s")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(v == variant_b, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(v == variant_b, F.col("_s")).otherwise(0)).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    p = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p * (F.lit(1.0) - p)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select(
        "n_a", "conv_a", "n_b", "conv_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        (p_a - p_b).alias("rate_diff"),
        F.when(se > 0, (p_a - p_b) / se).alias("z_stat"),
    )


def mad_outliers(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    threshold: float = 3.0,
    scale: float = 1.4826,
) -> DataFrame:
    """Per-key MAD (median absolute deviation) outlier flags — the robust
    complement to ``zscore_anomalies``: median and MAD have a 50%
    breakdown point, so a burst of extreme values cannot drag the center
    the way it drags μ/σ (a z-score flagger can mask the very outliers it
    is meant to find). Flags rows where
    ``|v − median_key| > threshold · scale · MAD_key`` and emits the
    robust z-score ``(v − median) / (scale · MAD)``; ``scale`` = 1.4826
    is the Gaussian consistency constant making robust_z comparable to a
    standard z.

    Exactness: Spark's exact ``percentile`` runs the same linear
    interpolation as DuckDB's ``quantile_cont`` (parity proven by
    `value_percentiles`), and the flag comparison/division use identical
    double operands on both engines. Keys where MAD = 0 (over half the
    values identical) are excluded — robust_z is undefined there.

    Cost model: two grouped exact-percentile passes (each sorts within
    groups — fine for bounded key cardinality like event types or
    tenants) plus one broadcast join back to the rows; the big side never
    shuffles. For a 100 TB continuous profile swap in `sketches.py`
    quantile sketches and keep the output contract.
    """
    v = F.col(value_col).cast("double")
    med = df.groupBy(key_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    stats = (
        df.join(F.broadcast(med), key_col)
        .groupBy(key_col)
        .agg(
            F.min("_med").alias("_med"),
            F.expr(f"percentile(abs(cast({value_col} AS double) - _med), 0.5)")
            .alias("_mad"),
        )
        .filter(F.col("_mad") > 0)
    )
    robust_z = (v - F.col("_med")) / (F.lit(scale) * F.col("_mad"))
    return (
        df.join(F.broadcast(stats), key_col)
        .filter(
            F.abs(v - F.col("_med"))
            > F.lit(threshold) * F.lit(scale) * F.col("_mad")
        )
        .select(
            F.col(id_col),
            F.col(key_col),
            v.alias(value_col),
            robust_z.alias("robust_z"),
        )
    )


# fixed Benford first-digit probabilities log10(1 + 1/d), inlined as
# literals (and duplicated verbatim in the oracle) so no transcendental
# runs engine-side — the one source of cross-engine float drift
BENFORD_P = {
    1: 0.3010299957, 2: 0.1760912591, 3: 0.1249387366, 4: 0.096910013,
    5: 0.079181246, 6: 0.0669467896, 7: 0.057991947, 8: 0.0511525224,
    9: 0.0457574906,
}


def benford_digits(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit profile — the classic fabricated-data /
    unit-mixing screen for numeric columns (Benford 1938; used in data-
    quality suites as a distribution-drift canary). The first significant
    digit is taken INTEGER-side (round to cents → bigint → leading char
    of the decimal rendering) because int→string is engine-portable while
    double→string and log10 are not. Output: one row per digit with the
    observed share next to the Benford expectation — per-digit rows
    instead of a summed chi² so no cross-engine float reduction exists.

    Scale: one scan + a 9-row hash agg (map-side combined); the window
    for the total runs over 9 rows.
    """
    from pyspark.sql.window import Window

    cents = F.round(F.col(col) * 100, 0).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        df.where(F.col(col).isNotNull() & (F.col(col) > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = F.sum("n_obs").over(Window.partitionBy())
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in BENFORD_P.items() for x in kv]
        ),
        F.col("digit"),
    )
    return counts.select(
        "digit",
        "n_obs",
        (F.col("n_obs") / total).alias("obs_p"),
        expected.alias("benford_p"),
    ).orderBy("digit")


def chi2_cells(df: DataFrame, row_col: str, col_expr: Column, col_name: str) -> DataFrame:
    """Chi-square independence cells for a two-way contingency table
    (row_col × a derived column): observed count, expected count under
    independence (row_total · col_total / n), and the per-cell χ²
    contribution. Emitted PER CELL rather than summed — integer counts
    and fixed-operand-order divisions make every cell engine-portable,
    while a summed statistic would be reduction-order sensitive.

    Scale: one (row,col)-keyed hash agg; marginals via two window sums
    over the CELL GRID (|rows|×|cols| rows, aggregate-sized), never a
    second data scan.
    """
    from pyspark.sql.window import Window

    cells = (
        df.where(F.col(row_col).isNotNull())
        .groupBy(F.col(row_col).alias("r"), col_expr.alias("c"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    row_tot = F.sum("n_obs").over(Window.partitionBy("r"))
    col_tot = F.sum("n_obs").over(Window.partitionBy("c"))
    n = F.sum("n_obs").over(Window.partitionBy())
    expected = row_tot * col_tot / n
    return (
        cells.select(
            F.col("r").alias(row_col),
            F.col("c").alias(col_name),
            "n_obs",
            F.round(expected, 6).alias("expected"),
            F.round(
                (F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected, 6
            ).alias("chi2_contrib"),
        )
        .orderBy(row_col, col_name)
    )


def referential_audit(
    relations: "list[tuple[str, DataFrame, str, DataFrame, str]]",
    assume_unique_keys: bool = False,
) -> DataFrame:
    """Referential-integrity audit across a schema's foreign-key edges →
    one row per relation ``(relation, n_rows, n_null_fk, n_orphans)``.

    ``relations`` is a list of (name, fact_df, fk_col, dim_df, pk_col).
    ``assume_unique_keys=True`` skips the defensive dedup of each
    dimension's key column — correct ONLY when the pk really is unique
    (declared primary keys); it removes one exchange per dimension, and
    a duplicate pk under this flag would silently double-count fact
    rows, so leave it False for untrusted inputs.
    An orphan is a NON-NULL foreign key with no match in the dimension —
    exactly what breaks every downstream join silently (inner joins drop
    the rows; the counts here are the monitoring signal). NULL keys are
    counted separately: a NULL fk is a modeling choice, an orphan is
    corruption.

    Scale: checks against the SAME fact table fuse into ONE pass — the
    fact is scanned once, left-joined against each (deduplicated,
    marker-tagged) dimension key set (AQE picks broadcast when the dim
    is small — region/nation always; a 100 TB fact vs a 1e9-row dim
    falls back to shuffle-hash), and a single aggregate emits every
    check's null/orphan counts, exploded into per-relation rows. The
    unfused form scanned each fact 2× per FK (lineitem: 6 scans for 3
    checks; measured ~3× slower at bench shape). Each relation's result
    is ONE row; the union of one-row aggregates is driver-free.

    Runs unchanged on a streaming fact (complete mode): every
    micro-batch stream-static joins the dimension key set, re-planned
    per batch so dimension updates are picked up, and the counts are
    associative BIGINT sums in one row of state — the orphan alert is
    maintained at ingest, with no periodic full-fact rescan.
    """
    by_fact: dict[int, list] = {}
    fact_of: dict[int, DataFrame] = {}
    for name, fact, fk, dim, pk in relations:
        by_fact.setdefault(id(fact), []).append((name, fk, dim, pk))
        fact_of[id(fact)] = fact

    outs = []
    for fid, checks in by_fact.items():
        joined = fact_of[fid]
        for i, (name, fk, dim, pk) in enumerate(checks):
            dkeys = dim.select(F.col(pk).alias(fk))
            if not assume_unique_keys:
                dkeys = dkeys.distinct()
            dkeys = dkeys.withColumn(f"_hit_{i}", F.lit(1))
            joined = joined.join(dkeys, fk, "left")
        agg = joined.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                c
                for i, (name, fk, dim, pk) in enumerate(checks)
                for c in (
                    F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0))
                    .cast("long").alias(f"_null_{i}"),
                    F.sum(
                        F.when(
                            F.col(fk).isNotNull()
                            & F.col(f"_hit_{i}").isNull(),
                            1,
                        ).otherwise(0)
                    ).cast("long").alias(f"_orph_{i}"),
                )
            ],
        )
        outs.append(
            agg.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(name).alias("relation"),
                            F.col("n_rows"),
                            F.col(f"_null_{i}").alias("n_null_fk"),
                            F.col(f"_orph_{i}").alias("n_orphans"),
                        )
                        for i, (name, fk, dim, pk) in enumerate(checks)
                    ])
                ).alias("_r")
            ).select("_r.*")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("relation")


def freshness_audit(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    window_s: int = 86400,
) -> DataFrame:
    """Pipeline-freshness read per group → ``(group, last_ts_s, lag_s,
    n_total, n_last_window, avg_per_window, last_window_ratio)``: when
    did each source last emit, how far behind the corpus watermark is
    it, and is its trailing-window volume in line with its historical
    average — the three questions every scheduled ingest monitor asks
    (a stuck source shows lag; a half-broken one shows ratio « 1 while
    lag stays 0 because a trickle still arrives).

    Portability: timestamps are truncating epoch-second BIGINTs, all
    counts exact; ``avg_per_window = n_total / n_windows`` and the
    ratio are fixed-order rationals of exact integers (unrounded).
    The window count is ``(max − min) div window_s + 1`` over the
    GLOBAL span, so every group is normalized against the same period.

    Scale: ONE scan → one (group) hash-agg carrying four exact
    aggregates (the per-group trailing count rides the same pass as a
    conditional sum against the broadcast global watermark); the 1-row
    global bounds broadcast. |groups| output rows.

    On a stream, :func:`freshness_ts_counts` is the complete-mode state
    and :func:`freshness_from_ts_counts` the report on read; both end in
    the same projection as this one-pass batch plan.
    """
    epoch = F.col(ts_col).cast("long")
    bounds = df.agg(
        F.max(epoch).alias("_gmax"), F.min(epoch).alias("_gmin")
    )
    sided = df.crossJoin(F.broadcast(bounds)).select(
        F.col(group_col).alias("grp"),
        epoch.alias("_e"),
        "_gmax",
        "_gmin",
    )
    per = sided.groupBy("grp").agg(
        F.max("_e").alias("last_ts_s"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("_e") > F.col("_gmax") - window_s, 1).otherwise(0)
        ).cast("long").alias("n_last_window"),
        F.max("_gmax").alias("_gmax"),
        F.max("_gmin").alias("_gmin"),
    )
    return _freshness_report(per, group_col, window_s)


def freshness_ts_counts(
    df: DataFrame, ts_col: str, group_col: str
) -> DataFrame:
    """Freshness state: exact event counts per (group, epoch-second) —
    associative sums, so it runs unchanged as complete-mode stream state,
    bounded by the retention window's distinct seconds per group, never
    by row volume. The audit's lag and ratio depend on the GLOBAL
    watermark, which every arrival can move, so they derive on read
    with :func:`freshness_from_ts_counts`."""
    return df.groupBy(
        F.col(group_col).alias("grp"),
        F.col(ts_col).cast("long").alias("ts_s"),
    ).agg(F.count(F.lit(1)).alias("_n"))


def freshness_from_ts_counts(
    counts: DataFrame, group_col: str = "grp", window_s: int = 86400
) -> DataFrame:
    """:func:`freshness_audit`'s output over a :func:`freshness_ts_counts`
    relation (batch or drained stream state): the same aggregates,
    weighted by the state's ``_n`` instead of scanning raw rows."""
    bounds = counts.agg(
        F.max("ts_s").alias("_gmax"), F.min("ts_s").alias("_gmin")
    )
    sided = counts.crossJoin(F.broadcast(bounds))
    per = sided.groupBy("grp").agg(
        F.max("ts_s").alias("last_ts_s"),
        F.sum("_n").cast("long").alias("n_total"),
        F.sum(
            F.when(F.col("ts_s") > F.col("_gmax") - window_s, F.col("_n"))
            .otherwise(0)
        ).cast("long").alias("n_last_window"),
        F.max("_gmax").alias("_gmax"),
        F.max("_gmin").alias("_gmin"),
    )
    return _freshness_report(per, group_col, window_s)


def _freshness_report(
    per: DataFrame, group_col: str, window_s: int
) -> DataFrame:
    """Lag / window-count / ratio projection over the per-group
    ``(grp, last_ts_s, n_total, n_last_window, _gmax, _gmin)`` relation
    shared by both freshness paths."""
    n_windows = (
        F.expr(f"(_gmax - _gmin) div {window_s}") + F.lit(1)
    ).cast("long")
    return per.select(
        F.col("grp").alias(group_col),
        "last_ts_s",
        (F.col("_gmax") - F.col("last_ts_s")).alias("lag_s"),
        "n_total",
        "n_last_window",
        (F.col("n_total") / n_windows).alias("avg_per_window"),
        (
            F.col("n_last_window").cast("double")
            * n_windows.cast("double")
            / F.col("n_total").cast("double")
        ).alias("last_window_ratio"),
    ).orderBy(group_col)


def schema_drift(
    df: DataFrame,
    ts_col: str,
    cols: "list[str]",
) -> DataFrame:
    """Column-profile drift between the EARLY and LATE time halves of a
    table → one row per column ``(column, n_early, n_late,
    null_rate_early, null_rate_late, n_distinct_early,
    n_distinct_late)`` — the scheduled data-quality read that catches a
    silently changed upstream (a column going null-heavy, an enum
    collapsing to one value, an id column suddenly low-cardinality)
    BEFORE it poisons training data. The split point is the midpoint of
    the observed epoch range — ``(min + max) div 2``, exact BIGINT
    truncating division on both engines.

    Portability: row/null/distinct counts are exact BIGINTs; the null
    rates are per-row int/int rationals (unrounded per convention).

    Scale: ONE scan — the per-side profile is a single groupBy(side)
    with k exact count-distincts (Catalyst's Expand: k× the scan rows
    carrying (side, one column) pairs — the standard multi-distinct
    plan; at 100 TB switch hot columns to the HLL sketch tier if exact
    cardinality isn't required). The reshape to one-row-per-column runs
    on the 2-row profile relation.
    """
    epoch = F.col(ts_col).cast("long")
    bounds = df.agg(
        ((F.min(epoch) + F.max(epoch)) / 2).cast("long").alias("_cut")
    )
    sided = df.crossJoin(F.broadcast(bounds)).select(
        F.when(epoch <= F.col("_cut"), F.lit("early"))
        .otherwise(F.lit("late")).alias("_side"),
        *[F.col(c) for c in cols],
    )
    per_side = sided.groupBy("_side").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(F.col(c)).alias(f"_nn_{i}") for i, c in enumerate(cols)],
        *[
            F.countDistinct(F.col(c)).alias(f"_nd_{i}")
            for i, c in enumerate(cols)
        ],
    )
    long = per_side.select(
        "_side",
        "_n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"_nn_{i}").alias("_nn"),
                    F.col(f"_nd_{i}").alias("_nd"),
                )
                for i, c in enumerate(cols)
            ])
        ).alias("_m"),
    ).select("_side", "_n", "_m.*")
    pick = lambda side, col: F.max(  # noqa: E731
        F.when(F.col("_side") == side, F.col(col))
    )
    return (
        long.groupBy("column")
        .agg(
            pick("early", "_n").alias("n_early"),
            pick("late", "_n").alias("n_late"),
            pick("early", "_nn").alias("_nn_e"),
            pick("late", "_nn").alias("_nn_l"),
            pick("early", "_nd").alias("n_distinct_early"),
            pick("late", "_nd").alias("n_distinct_late"),
        )
        .select(
            "column",
            "n_early",
            "n_late",
            ((F.col("n_early") - F.col("_nn_e")) / F.col("n_early"))
            .alias("null_rate_early"),
            ((F.col("n_late") - F.col("_nn_l")) / F.col("n_late"))
            .alias("null_rate_late"),
            "n_distinct_early",
            "n_distinct_late",
        )
        .orderBy("column")
    )


def p_chart(
    df: DataFrame,
    ts_col: str,
    defect: Column,
    step_s: int = 86400,
    sigma: int = 3,
) -> DataFrame:
    """Shewhart p-chart over a boolean defect indicator → one row per
    time bin ``(bin, n, n_defect, defect_rate, center_rate,
    is_out_of_control)`` — the SPC control chart (Shewhart '31; the
    Western-Electric practice) run over data quality: daily error
    share, null burst, schema-violation rate. A bin is out of control
    when its rate leaves the ``sigma``-sigma binomial band around the
    full-period center line ``p̄ ± σ·√(p̄(1−p̄)/n_bin)``.

    Portability — the flag never compares against an unrounded float
    (the `cusum_changepoints` lesson): with k/n the bin rate and K/N
    the center, squaring and clearing denominators gives the EXACT
    integer predicate

      ``(k·N − K·n)² > σ²·K·(N−K)·n``

    — every operand a BIGINT product carried in DECIMAL(38,0)
    (HUGEINT on the oracle side). The emitted rates are per-row
    int/int rationals (unrounded). Domain bound: N⁴ must fit 38
    digits → N < ~1.8·10⁹ rows per charted period; shard the chart by
    month/source beyond that (documented, not asserted — the chart is
    a report, not a join key).

    Scale: ONE scan → one (bin) hash-agg carrying two exact counts;
    the 1-row center broadcasts back onto the |bins|-row relation.
    """
    return p_chart_from_binned(
        defect_bins(df, ts_col, defect, step_s=step_s), sigma=sigma
    )


def defect_bins(
    df: DataFrame,
    ts_col: str,
    defect: Column,
    step_s: int = 86400,
) -> DataFrame:
    """The p-chart's binned relation: exact per-bin ``(bin, n,
    n_defect)`` counts. Runs unchanged on a streaming DataFrame as
    complete-mode state: both aggregates are associative BIGINT sums, so
    the drained state is bit-identical to the batch relation in any
    arrival order, and it is |bins| rows (time-span-bounded)."""
    bin_col = (F.col(ts_col).cast("long") / F.lit(step_s)).cast("long")
    return df.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(defect.cast("long")).alias("n_defect"),
    )


def p_chart_from_binned(bins: DataFrame, sigma: int = 3) -> DataFrame:
    """Control-limit tail over a finished ``defect_bins`` relation
    (batch or drained stream state) — the derive-on-read half of
    :func:`p_chart` (exact-predicate contract documented there). The
    center line depends on ALL bins, so the tail re-runs on read over
    the |bins|-row relation."""
    center = bins.agg(
        F.sum("n").alias("_N"), F.sum("n_defect").alias("_K")
    )
    k = F.col("n_defect").cast("decimal(38,0)")
    n = F.col("n").cast("decimal(38,0)")
    kk = F.col("_K").cast("decimal(38,0)")
    nn = F.col("_N").cast("decimal(38,0)")
    dev = k * nn - kk * n
    return (
        bins.crossJoin(F.broadcast(center))
        .select(
            "bin",
            "n",
            "n_defect",
            (F.col("n_defect") / F.col("n")).alias("defect_rate"),
            (F.col("_K") / F.col("_N")).alias("center_rate"),
            (
                dev * dev
                > F.lit(sigma * sigma).cast("decimal(38,0)")
                * kk * (nn - kk) * n
            ).alias("is_out_of_control"),
        )
        .orderBy("bin")
    )


def join_size_audit(
    joins: "list[tuple[str, DataFrame, str, DataFrame, str]]",
) -> DataFrame:
    """Predict a join's output size WITHOUT executing it → one row per
    join edge ``(relation, n_keys_common, join_rows, max_key_rows,
    skew_share)``. ``join_rows = Σ_k cnt_a(k)·cnt_b(k)`` over the common
    keys — the exact inner-equi-join cardinality from two per-key count
    aggregates; ``max_key_rows`` is the largest single key's
    contribution and ``skew_share`` its fraction of the total: THE
    pre-flight read before any 100 TB join (a skew_share near 1 means
    one task receives the whole output — salt or AQE-skew-split first;
    a join_rows ≫ both inputs flags an accidental many-to-many).

    ``joins`` is a list of (name, df_a, key_a, df_b, key_b).

    Scale: each side collapses to a per-key count (one map-side-combined
    hash agg — the full tables never meet), the count tables join on the
    key, and everything after is a one-row aggregate. Cost is
    O(distinct keys), independent of the join output it predicts.
    Self-edges (``df_a is df_b and key_a == key_b`` — the canonical
    fan-out audit) skip the count-table join entirely: the grouped
    relation is 1:1 with itself, so ``join_rows = Σ c²`` and
    ``max_key_rows = max(c²)`` read off the SINGLE aggregate — one scan
    and one hash agg per self-edge instead of two of each plus a join.
    """
    outs = []
    for name, df_a, key_a, df_b, key_b in joins:
        ca = (
            df_a.where(F.col(key_a).isNotNull())
            .groupBy(F.col(key_a).alias("_k"))
            .agg(F.count(F.lit(1)).alias("_ca"))
        )
        if df_a is df_b and key_a == key_b:
            per_key = ca.select(
                (F.col("_ca") * F.col("_ca")).alias("_rows")
            )
        else:
            cb = (
                df_b.where(F.col(key_b).isNotNull())
                .groupBy(F.col(key_b).alias("_k"))
                .agg(F.count(F.lit(1)).alias("_cb"))
            )
            per_key = ca.join(cb, "_k").select(
                (F.col("_ca") * F.col("_cb")).alias("_rows")
            )
        outs.append(
            per_key.agg(
                F.count(F.lit(1)).alias("n_keys_common"),
                F.coalesce(F.sum("_rows"), F.lit(0)).cast("long")
                .alias("join_rows"),
                F.coalesce(F.max("_rows"), F.lit(0)).cast("long")
                .alias("max_key_rows"),
            ).select(
                F.lit(name).alias("relation"),
                "n_keys_common",
                "join_rows",
                "max_key_rows",
                F.when(
                    F.col("join_rows") > 0,
                    F.col("max_key_rows") / F.col("join_rows"),
                ).otherwise(F.lit(0.0)).alias("skew_share"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("relation")


def concentration_hhi(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Herfindahl-Hirschman concentration of a value column
    over entities → ``(group, n_entities, total_cents, hhi,
    top_share)`` where ``hhi = Σ_i share_i²`` (Herfindahl '50 /
    Hirschman '45, public literature; the antitrust standard, 1/n for
    perfectly even, 1.0 for a monopoly). The data-balance read a
    sampling/curation pipeline runs before trusting per-group quotas:
    a group whose token/revenue mass is one entity deep behaves like
    that single entity, whatever its row count says.

    Exactness: per-row values quantize to half-up BIGINT cents; each
    entity's total r_i is an exact BIGINT sum; ``hhi = Σr_i² / (Σr_i)²``
    computes its numerator on the DECIMAL(38,0)/HUGEINT pathway and
    performs the division once on exact operands (Σr as double is
    exact conversion; its square is one IEEE multiply — identical on
    both engines). ``top_share = max r_i / Σ r_i`` is one int/int
    rational.

    Shape: two stacked hash aggs — rows → (group, entity) → group —
    both map-side combined; output is |groups|-sized.
    """
    cents = F.floor(
        F.col(value_col).cast("double") * 100 + F.lit(0.5)
    ).cast("long")
    per_entity = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(entity_col).alias("ent"),
        )
        .agg(F.sum(cents).alias("r"))
    )
    return (
        per_entity.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.sum("r").alias("total_cents"),
            F.sum(F.col("r").cast("decimal(38,0)")
                  * F.col("r").cast("decimal(38,0)")).alias("_s2"),
            F.max("r").alias("_mx"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_entities",
            "total_cents",
            (
                F.col("_s2").cast("double")
                / (F.col("total_cents").cast("double")
                   * F.col("total_cents").cast("double"))
            ).alias("hhi"),
            (F.col("_mx") / F.col("total_cents")).alias("top_share"),
        )
        .orderBy(group_col)
    )


def date_consistency_audit(
    df: DataFrame,
    early_col: str,
    late_col: str,
    group_col: str,
    late_days: int = 90,
) -> DataFrame:
    """Cross-field temporal-consistency audit → per group
    ``(group, n_rows, n_violations, n_late, violation_rate,
    late_rate)``: rows where the supposedly-later timestamp precedes
    the earlier one (``late < early`` — outright corruption: clock
    skew, timezone double-conversion, join misalignment) and rows
    merely SLOW (``late > early + late_days`` — an SLA read, not an
    error). The constraint-mining sibling of `referential_audit`:
    that one checks keys point somewhere, this one checks the pointed
    row's dates can coexist.

    Exactness: comparisons run on truncating epoch-second BIGINTs (the
    repo's timestamp convention); counts are BIGINTs; rates are
    int/int rationals — engine-portable unrounded.

    Scale: ONE map-side-combined hash agg over the (already-joined)
    fact scan; output is |groups|-sized. No second pass per check —
    both predicates ride the same aggregate.
    """
    e = F.col(early_col).cast("long")
    lt = F.col(late_col).cast("long")
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(lt < e, 1).otherwise(0)).cast("long")
            .alias("n_violations"),
            F.sum(
                F.when(lt > e + F.lit(late_days * 86400), 1).otherwise(0)
            ).cast("long").alias("n_late"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_rows", "n_violations", "n_late",
            (F.col("n_violations") / F.col("n_rows"))
            .alias("violation_rate"),
            (F.col("n_late") / F.col("n_rows")).alias("late_rate"),
        )
        .orderBy(group_col)
    )


def fd_violations(
    df: DataFrame,
    fds: "list[tuple[str, list[str], str]]",
) -> DataFrame:
    """Functional-dependency audit → one row per candidate FD
    ``(fd, n_rows, n_groups, n_violating_groups, g3_rows, g3_error)``:
    does ``X → Y`` actually hold in the data, and if not, how badly —
    ``g3_rows`` is the classic g₃ repair size (Kivinen & Mannila '95,
    public paper): the MINIMUM number of rows to delete so the FD
    holds, computed exactly as ``n_rows − Σ_x max_y |σ_{X=x,Y=y}|``
    (keep each group's majority Y, delete the rest). The audit a
    pipeline runs before trusting a column as a join key surrogate,
    before denormalizing, or before declaring a dimension hierarchy
    (brand → manufacturer) that a single corrupt feed can silently
    break.

    ``fds`` is ``[(name, [x_cols...], y_col), ...]``.

    Exactness: every output is an exact BIGINT count; ``g3_error`` is
    the one int/int rational (unrounded per repo convention).

    Scale, per FD: one column-pruned scan → hash-agg on (X, Y) with
    map-side combine (the shuffle carries |distinct X,Y| rows, never
    the data) → hash-agg on X → a 1-row rollup. FDs are independent
    single-row branches unioned at the end — the same parallel-branch
    shape `referential_audit` measured FASTER than a tagged-union
    single job (COVERAGE.md round-10 note). NULL Y counts as a value
    (a group mixing NULL and non-NULL Y violates the FD).

    On a stream, :func:`fd_xy_counts` runs unchanged as complete-mode
    state (associative BIGINT counts → stream ≡ batch bit-for-bit);
    :func:`fd_from_xy_counts` is the derive-on-read tail (the g3 rollup
    depends on per-group maxima, so it re-runs on read over the
    |distinct X,Y|-row state).
    """
    if not fds:
        raise ValueError("fd_violations requires at least one FD spec")
    outs = [
        fd_from_xy_counts(fd_xy_counts(df, x_cols, y_col), name, x_cols)
        for name, x_cols, y_col in fds
    ]
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("fd")


def fd_xy_counts(
    df: DataFrame, x_cols: "list[str]", y_col: str
) -> DataFrame:
    """The FD audit's state relation: exact BIGINT count per distinct
    ``(X..., Y)`` — one map-side-combined hash agg over a column-pruned
    scan. Associative, so it runs unchanged as complete-mode stream
    state."""
    return df.groupBy(*[F.col(c) for c in x_cols], F.col(y_col)).agg(
        F.count(F.lit(1)).alias("_n")
    )


def fd_from_xy_counts(
    xy: DataFrame, name: str, x_cols: "list[str]"
) -> DataFrame:
    """Derive-on-read g3 rollup over a finished :func:`fd_xy_counts`
    relation (batch or drained stream state) → the single audit row
    documented in :func:`fd_violations`."""
    per_x = xy.groupBy(*[F.col(c) for c in x_cols]).agg(
        F.count(F.lit(1)).alias("_ny"),
        F.sum("_n").alias("_rows"),
        F.max("_n").alias("_keep"),
    )
    return per_x.agg(
        F.lit(name).alias("fd"),
        F.sum("_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("_ny") > 1, 1).otherwise(0))
        .cast("long").alias("n_violating_groups"),
        (F.sum("_rows") - F.sum("_keep")).cast("long").alias("g3_rows"),
    ).select(
        "fd", "n_rows", "n_groups", "n_violating_groups", "g3_rows",
        (F.col("g3_rows") / F.col("n_rows")).alias("g3_error"),
    )
