"""Time-series operators: gap-filling with last-observation-carried-forward
(LOCF) and rows-frame moving aggregates — the hypertable-style analytics a
streaming engine's users run on event tables (TimescaleDB's
``time_bucket_gapfill``/``locf`` shape, built from pure DataFrame ops).

The reference's windowed jobs (e.g.
`/root/reference/src/main/scala/essentialsstreams/WindowFunctions.scala`
tumbling windows) bucket time but leave empty buckets ABSENT; gapfill is the
dual operation that a serving layer needs: densify the bucket grid and carry
values forward so every (key, bucket) cell exists.

Scale design: the dense grid is generated PER KEY from that key's own
[min, max] bucket span via `sequence` + `explode` — never a cross join of
keys × global time range, so a key active for one hour costs one row, not
the whole calendar. All shuffles are keyed by (key) or (key, bucket); the
LOCF window is one pass per key partition. At 100 TB, partition the input
by time first (the fixtures are time-ordered parquet) and the per-key spans
prune to the scanned slice.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_essentials_spark.session import driver_frame, driver_small_path


def bucket_expr(ts_col: str, step_s: int) -> Column:
    """Epoch-second bucket start: floor(epoch/step)*step as BIGINT —
    portable across engines (integer arithmetic only)."""
    return (
        F.floor(F.col(ts_col).cast("long") / step_s) * step_s
    ).cast("long")


def gapfill_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
    seq_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Dense per-key time grid at ``step_s`` resolution spanning each key's
    own [min, max] observed buckets; buckets with no observation carry the
    last observed value forward (LOCF). Within a bucket, the LAST
    observation wins, ordered by (``ts_col``, *seq_cols) — pass tiebreakers
    for a total order, or "last" is engine-dependent.

    Output: (key, bucket, value_locf) — ``value_locf`` is never null because
    every key's grid starts at an observed bucket. The carried value is the
    original, untouched double → bit-identical under replay and across
    engines.
    """
    order = [F.col(ts_col).cast("long").desc()] + [
        F.desc(c) for c in (seq_cols or [])
    ]
    win_last = Window.partitionBy(key_col, "bucket").orderBy(*order)
    obs = (
        df.withColumn("bucket", bucket_expr(ts_col, step_s))
        .withColumn("_rn", F.row_number().over(win_last))
        .filter(F.col("_rn") == 1)
        .select(key_col, "bucket", F.col(value_col).alias("_v"))
    )
    grid = (
        obs.groupBy(key_col)
        .agg(F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx"))
        .select(
            key_col,
            F.explode(
                F.sequence(F.col("_mn"), F.col("_mx"), F.lit(step_s))
            ).alias("bucket"),
        )
    )
    win_locf = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(obs, [key_col, "bucket"], "left").select(
        key_col,
        "bucket",
        F.last("_v", ignorenulls=True).over(win_locf).alias("value_locf"),
    )


def moving_agg(
    df: DataFrame,
    key_col: str,
    value_col: str,
    order_cols: Sequence[str],
    preceding: int = 3,
) -> DataFrame:
    """Rows-frame moving sum/count/average per key over the ``preceding``+1
    most recent rows in ``order_cols`` order (a total order per key —
    include a tiebreaker column).

    Numeric portability: the frame sum is computed in DECIMAL(18,2) — exact
    in any fold order, so segment-tree window evaluation (DuckDB) and
    Spark's running frames agree bit-for-bit; the average is ONE IEEE
    division of the exact sum by the exact count. One shuffle on the key;
    the frame is evaluated in a single ordered pass per key partition.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-preceding, Window.currentRow)
    )
    msum = F.sum(F.col(value_col).cast("decimal(18,2)")).over(w).cast("double")
    mcnt = F.count("*").over(w)
    return df.select(
        key_col,
        *order_cols,
        msum.alias("moving_sum"),
        mcnt.alias("n_window"),
        (msum / mcnt).alias("moving_avg"),
    )


def ohlc(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
    tiebreak_col: str,
) -> DataFrame:
    """Downsample to per-(key, bucket) OHLC bars: open = value at the first
    event in the bucket, close = at the last, high/low = extremes — the
    canonical time-series resampling (financial bars, metric rollups).

    open/close use ``max_by``/``min_by`` on a (epoch, tiebreak) ordering
    struct, so the whole bar is ONE hash aggregation with map-side
    partials — no window sort, no self-join; the shuffle carries one
    partial bar per (key, bucket, map task). ``tiebreak_col`` makes
    first/last total (same convention as every sequential operator here).
    """
    ts_s = F.col(ts_col).cast("long")
    order = F.struct(
        ts_s.alias("t"), F.col(tiebreak_col).alias("tb")
    )
    return (
        df.groupBy(
            F.col(key_col),
            (F.floor(ts_s / step_s) * step_s).alias("bucket"),
        )
        .agg(
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-key time-weighted average: each observation is weighted by how
    long it remained current (the interval to the NEXT observation; the
    final observation of a key carries no weight — a closed-interval TWAP).
    The right mean for irregularly-sampled state (sensor readings, prices):
    a value held for an hour must outweigh ten ticks in one second.

    Exactness: durations are BIGINT second deltas, value is cast to
    DECIMAL(18,4); the weighted sum is an exact DECIMAL before the single
    double division — engine-portable like the other moments here. One
    shuffle on the key serving both the lead() window and the aggregate.
    """
    projected = df.select(
        F.col(key_col),
        F.col(ts_col).cast("long").alias("_ts_s"),
        F.col(value_col).cast("decimal(18,4)").alias("_v"),
        F.col(tiebreak_col),
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col("_ts_s").asc(), F.col(tiebreak_col).asc()
    )
    with_dur = projected.withColumn(
        "_dur", F.lead("_ts_s").over(w) - F.col("_ts_s")
    )
    return (
        with_dur.filter(F.col("_dur").isNotNull())
        .groupBy(key_col)
        .agg(
            F.sum(F.col("_v") * F.col("_dur")).alias("_wsum"),
            F.sum("_dur").alias("total_seconds"),
        )
        .filter(F.col("total_seconds") > 0)
        .select(
            key_col,
            "total_seconds",
            (
                F.col("_wsum").cast("double")
                / F.col("total_seconds").cast("double")
            ).alias("twap"),
        )
    )


def gapfill_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
    seq_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Dense per-key grid like `gapfill_locf`, but missing buckets are
    LINEARLY INTERPOLATED between the surrounding observations
    (TimescaleDB's ``interpolate`` counterpart to ``locf``). Observed
    buckets keep their (last-write-wins) value exactly: the interpolation
    weight degenerates to 0 there, so no float drift on real observations.

    Portability: the fill is ``prev + (next - prev) * ((bucket - pb) /
    (nb - pb))`` — one IEEE division of exact integer bucket deltas, then
    one multiply-add, evaluated in this exact order in the DuckDB oracle
    too, so results are bit-identical across engines.

    Scale: same shape as LOCF — grid from each key's own span (never
    keys x calendar). Both directions are running frames, O(n) per key:
    "previous" is ``last(ignorenulls)`` over ``bucket`` ascending and
    "next" is ``last(ignorenulls)`` over ``bucket`` descending, each
    ``(unboundedPreceding, currentRow)``. A ``(currentRow,
    unboundedFollowing)`` frame would be recomputed for every row, O(n²)
    per key. The two orders share the (key) partitioning, so the window
    stage has exactly one exchange (and one sort per direction).
    """
    order = [F.col(ts_col).cast("long").desc()] + [
        F.desc(c) for c in (seq_cols or [])
    ]
    win_last = Window.partitionBy(key_col, "bucket").orderBy(*order)
    obs = (
        df.withColumn("bucket", bucket_expr(ts_col, step_s))
        .withColumn("_rn", F.row_number().over(win_last))
        .filter(F.col("_rn") == 1)
        .select(key_col, "bucket", F.col(value_col).alias("_v"))
    )
    grid = (
        obs.groupBy(key_col)
        .agg(F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx"))
        .select(
            key_col,
            F.explode(
                F.sequence(F.col("_mn"), F.col("_mx"), F.lit(step_s))
            ).alias("bucket"),
        )
    )
    wp = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(key_col)
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_bucket = F.when(F.col("_v").isNotNull(), F.col("bucket"))
    joined = grid.join(obs, [key_col, "bucket"], "left").select(
        key_col,
        "bucket",
        F.last("_v", ignorenulls=True).over(wp).alias("_pv"),
        F.last(obs_bucket, ignorenulls=True).over(wp).alias("_pb"),
        F.last("_v", ignorenulls=True).over(wn).alias("_nv"),
        F.last(obs_bucket, ignorenulls=True).over(wn).alias("_nb"),
    )
    frac = (F.col("bucket") - F.col("_pb")) / (F.col("_nb") - F.col("_pb"))
    interp = F.when(F.col("_nb") == F.col("_pb"), F.col("_pv")).otherwise(
        F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac
    )
    return joined.select(key_col, "bucket", interp.alias("value_interp"))


def _ewma_steps(rows, alpha: float, z: float, state=(0.0, 0.0, 0)):
    """Shared EWMA/EW-variance recurrence (Hunter '86 EWMA control chart):
    identical float operations in the batch and streaming operators, so
    stream output is BIT-equal to batch replay. ``state`` seeds
    (ewma, ewvar, n) so the streaming twin resumes mid-series."""
    out = []
    ewma, ewvar, n = state
    for ts, x in rows:
        if n == 0:
            anomaly = False
            ewma, ewvar = x, 0.0
        else:
            dev = x - ewma
            anomaly = ewvar > 0.0 and dev * dev > z * z * ewvar
            ewma = ewma + alpha * dev
            ewvar = (1.0 - alpha) * (ewvar + alpha * dev * dev)
        n += 1
        out.append((ts, x, ewma, anomaly))
    return out, (ewma, ewvar, n)


def ewma_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    z: float = 3.0,
) -> DataFrame:
    """Per-key EWMA control-chart anomaly detection: each value is compared
    to the exponentially-weighted mean/variance of its PREDECESSORS
    (so an anomalous spike flags itself rather than first polluting the
    baseline it is judged against).

    The recurrence is inherently sequential per key, but it no longer
    needs Python (r13, guide §4): each key's series is collected into ONE
    sorted array (the same per-key colocation any keyed grouping already
    requires) and folded by an ``aggregate()`` expression whose lambda
    replays `_ewma_steps`' IEEE operations VERBATIM, in the same
    left-associative order, appending each step's (ts, value, ewma, flag)
    to the accumulator — so per-key outputs are bit-identical to the
    former applyInPandas form (and to the streaming twin
    `stateful.ewma_anomaly_stream`, which still runs `_ewma_steps` on
    GroupState; equivalence asserted bit-for-bit in tests). The plan is
    one partial-aggregated shuffle + an explode — no BatchEvalPython /
    ArrowEvalPython node, whole plan stays in the JVM.

    Scale: state per key is its own series (bounded by the per-key
    timeline, exactly the envelope the bucketed pandas form needed); the
    fold is O(rows) float work with O(rows²) small array copies per key —
    fine for control-chart series (≤ ~10⁵ rows/key), and the Python
    boundary it replaces cost more at every measured size. NULL values
    enter the fold as NaN (matching pandas ``astype(float)``); NaN-
    poisoned comparisons follow Spark's NaN ordering instead of Python's
    (observable only on NULL/NaN inputs, which no caller feeds).

    Rows-only driver check (float-iterative, like PCA/semantic dedup).
    """
    # key column keeps its incoming type (string keys are as valid as
    # numeric ones; hardcoding `long` here would miscast or fail them)
    alpha = float(alpha)
    oma = 1.0 - alpha  # same Python-float constants _ewma_steps computes
    z2 = float(z) * float(z)
    a_lit, oma_lit, z2_lit = (repr(alpha) + "D", repr(oma) + "D",
                              repr(z2) + "D")
    obs = df.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("long").alias("_ts"),
        F.coalesce(
            F.col(value_col).cast("double"), F.lit(float("nan"))
        ).alias("_v"),
    )
    # sort_array on struct(_ts, _v) = the pandas (ts, value) mergesort
    series = obs.groupBy("_k").agg(
        F.sort_array(F.collect_list(F.struct("_ts", "_v"))).alias("_rows")
    )
    out_t = (
        "named_struct('ts_s', r._ts, 'value', r._v, 'ewma', "
        f"if(acc.n = 0, r._v, acc.ewma + {a_lit} * (r._v - acc.ewma)), "
        "'is_anomaly', acc.n > 0 AND acc.ewvar > 0.0D AND "
        f"(r._v - acc.ewma) * (r._v - acc.ewma) > {z2_lit} * acc.ewvar)"
    )
    # slice(array(<dummy>), 1, 0): an EMPTY array of the output struct
    # type (a bare array() would type as array<string>)
    empty_out = (
        "slice(array(named_struct('ts_s', 0L, 'value', 0.0D, 'ewma', "
        "0.0D, 'is_anomaly', false)), 1, 0)"
    )
    fold = f"""
    aggregate(
      _rows,
      named_struct('ewma', 0.0D, 'ewvar', 0.0D, 'n', 0,
                   'out', {empty_out}),
      (acc, r) -> named_struct(
        'ewma', if(acc.n = 0, r._v,
                   acc.ewma + {a_lit} * (r._v - acc.ewma)),
        'ewvar', if(acc.n = 0, 0.0D,
                    {oma_lit} * (acc.ewvar
                        + {a_lit} * (r._v - acc.ewma) * (r._v - acc.ewma))),
        'n', acc.n + 1,
        'out', array_append(acc.out, {out_t})),
      acc -> acc.out)
    """
    return series.select(
        F.col("_k").alias(key_col), F.explode(F.expr(fold)).alias("_r")
    ).select(
        key_col,
        F.col("_r.ts_s").alias("ts_s"),
        F.col("_r.value").alias("value"),
        F.col("_r.ewma").alias("ewma"),
        F.col("_r.is_anomaly").alias("is_anomaly"),
    )


def seasonal_residuals(
    df: DataFrame,
    type_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    z: float = 3.0,
    period_s: int = 3600,
    cycle: int = 24,
) -> DataFrame:
    """Seasonal-baseline anomaly detection: per (series, phase) — by
    default (event_type, hour-of-day) — compute the seasonal mean and
    stddev, then flag values more than ``z`` sigma from THEIR OWN phase's
    baseline (a value normal at the daily peak is anomalous at 3am; a
    global z-score can't see that). The additive-seasonality half of an
    STL decomposition, kept closed-form so it oracles exactly.

    Portability: mean/stddev derive from EXACT DECIMAL sums of value and
    value² (one IEEE division/sqrt at the end — same recipe as the zscore
    op); the phase is integer epoch arithmetic, no calendar functions.

    Scale: one partial-aggregated shuffle on (series, phase) — at most
    |types| x cycle groups, a broadcast-sized relation joined back onto
    the stream; the flagging filter is narrow.
    """
    phase = (
        F.floor(F.col(ts_col).cast("long") / period_s) % cycle
    ).alias("phase")
    dec = F.col(value_col).cast("decimal(18,4)")
    stats = (
        df.select(F.col(type_col), phase, dec.alias("_v"))
        .groupBy(type_col, "phase")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_v").cast("double").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).cast("double").alias("_ss"),
        )
        .select(
            type_col,
            "phase",
            (F.col("_s") / F.col("_n")).alias("_mu"),
            F.sqrt(
                F.col("_ss") / F.col("_n")
                - (F.col("_s") / F.col("_n")) * (F.col("_s") / F.col("_n"))
            ).alias("_sigma"),
        )
    )
    flagged = df.select(
        F.col(id_col),
        F.col(type_col),
        phase,
        F.col(value_col).cast("double").alias("value"),
    ).join(F.broadcast(stats), [type_col, "phase"])
    # constant phases (sigma = 0) flag nothing: guard INSIDE a when() so
    # ANSI mode never evaluates the division for them (x/0 errors in
    # Spark 4 ANSI; the DuckDB oracle mirrors with `sigma > 0`)
    resid = F.when(
        F.col("_sigma") > 0,
        (F.col("value") - F.col("_mu")) / F.col("_sigma"),
    )
    return flagged.filter(F.abs(resid) > z).select(
        id_col, type_col, "phase", "value", resid.alias("z_seasonal")
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    alpha: float = 0.3,
    window: int = 50,
) -> DataFrame:
    """Normalized finite-window EWMA smoothing — the EXPRESSION-ONLY,
    oracle-checkable complement to `ewma_anomaly`'s exact sequential
    recurrence: m_i = Σₖ (1-α)ᵏ·x_{i-k} / Σₖ (1-α)ᵏ over the last
    ``window`` observations (pandas ``ewm(adjust=True)`` semantics with a
    truncated history; for α=0.3 the 50th weight is ~2e-8, far below the
    float noise floor, so the truncation is observationally lossless).

    Engine-portable determinism by construction: both numerator and
    denominator are HORNER FOLDS over the windowed value list
    (acc·(1-α) + x, oldest→newest) — no ``pow`` (libm implementations
    differ in the last ulp across engines), just the same left-to-right
    IEEE multiply-add sequence in Spark's ``aggregate`` and DuckDB's
    ``list_reduce``, which makes raw double outputs hash-identical with
    NO rounding. The anomaly variant stays `ewma_anomaly` (infinite
    memory, exact recurrence, streaming twin); this one is the smoother
    a dashboard or feature pipeline reads.

    Scale shape: one per-key window pass (rows frame, bounded K-element
    state per row) — the same single sort+shuffle any per-key timeline op
    pays; no applyInPandas, no Python.
    """
    decay = repr(1.0 - alpha)
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(-(window - 1), 0)
    )
    staged = df.select(
        F.col(key_col),
        F.col(order_col),
        F.col(ts_col).cast("long").alias("ts_s"),
        F.col(value_col).cast("double").alias("value"),
        F.collect_list(F.col(value_col).cast("double")).over(w).alias("_win"),
    )
    return staged.selectExpr(
        key_col,
        order_col,
        "ts_s",
        "value",
        f"aggregate(_win, CAST(0.0 AS DOUBLE), (a, x) -> a * {decay}D + x)"
        f" / aggregate(_win, CAST(0.0 AS DOUBLE),"
        f" (a, x) -> a * {decay}D + CAST(1.0 AS DOUBLE)) AS ewma",
    )


def lag_correlation(
    df: DataFrame,
    ts_col: str,
    type_col: str,
    type_a: str,
    type_b: str,
    lags: Sequence[int] = (0, 1, 2, 3),
    step_s: int = 3600,
) -> DataFrame:
    """Cross-correlation between two event-type count series at integer
    lags (does type_a activity LEAD type_b?): bucket both types into
    step_s bins, inner-join the series against itself shifted by
    lag·step_s, and compute Pearson r per lag from INTEGER power sums —
    r = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)). Every sum is
    an exact BIGINT (counts and their products), so the only float ops
    are two correctly-rounded IEEE sqrts and one division in fixed
    operand order — engine-portable, no reduction-order sensitivity
    (the trick that makes a correlation oracle-checkable at all; a
    double-typed corr() aggregate is not). Zero-variance lags are
    filtered, not NULL-propagated.

    Scale: one bin hash-agg over the scan (map-side combined), then the
    lag joins run on the BINNED series (|bins| rows, not events); the
    power sums are a |lags|-row aggregate. At 1e9-per-bin counts the
    BIGINT power sums approach overflow — swap the partials to
    DECIMAL(38,0) at that scale (same plan shape).

    Output: (lag, n, r) per lag with r rounded to 6 dp.
    """
    bin_col = (F.col(ts_col).cast("long") / F.lit(step_s)).cast("long")
    series = (
        df.where(F.col(type_col).isin(type_a, type_b))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.sum(F.when(F.col(type_col) == type_a, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col(type_col) == type_b, 1).otherwise(0)).alias("cb"),
        )
    )
    lag_df = driver_frame(df.sparkSession, {"lag": [int(l) for l in lags]}, "lag long")
    a = series.select(F.col("bin"), F.col("ca"))
    b = series.select(F.col("bin").alias("bin_b"), F.col("cb"))
    paired = (
        a.crossJoin(F.broadcast(lag_df))
        .join(b, F.col("bin_b") == F.col("bin") + F.col("lag"))
    )
    # power sums on the DECIMAL(38,0)/HUGEINT pathway: per-bin counts
    # square — a 1e10-events/hour bin at 100 TB makes ca² = 1e20, far
    # past int64 (the raw-BIGINT form silently wrapped non-ANSI and
    # errored ANSI); linear sums stay BIGINT (bounded by total events)
    cad = F.col("ca").cast("decimal(38,0)")
    cbd = F.col("cb").cast("decimal(38,0)")
    sums = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ca").alias("sx"),
        F.sum("cb").alias("sy"),
        F.sum(cad * cbd).alias("sxy"),
        F.sum(cad * cad).alias("sxx"),
        F.sum(cbd * cbd).alias("syy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    sxd = F.col("sx").cast("decimal(38,0)")
    syd = F.col("sy").cast("decimal(38,0)")
    vx = nd * F.col("sxx") - sxd * sxd
    vy = nd * F.col("syy") - syd * syd
    num = nd * F.col("sxy") - sxd * syd
    return (
        sums.where((vx > 0) & (vy > 0))
        .select(
            "lag",
            "n",
            F.round(
                num.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            ).alias("r"),
        )
        .orderBy("lag")
    )


def binned_sums(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    step_s: int = 3600,
) -> DataFrame:
    """The drift workbench's shared relation: exact per-bin
    ``(bin, _n, _s)`` — BIGINT row count and DECIMAL(18,2) value sum per
    time bin. Both :func:`cusum_changepoints` and :func:`acf` (and any
    future binned-series statistic) derive from this one aggregate. It
    runs unchanged on a streaming DataFrame as complete-mode state:
    count and decimal sum are associative and exact, so the drained
    state is bit-identical to the batch relation over the same rows in
    any arrival order, and it is |bins| rows — bounded by the stream's
    time span, not its volume.

    Scale: one map-side-combined hash agg over the scan; the output is
    |bins| rows (hours/days-sized at 100 TB).
    """
    bin_col = (F.col(ts_col).cast("long") / F.lit(step_s)).cast("long")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_s"),
        )
    )


def _micro_means(binned: DataFrame) -> DataFrame:
    """(bin, m) half-up micro-unit BIGINT means from a ``binned_sums``
    relation — the exact-integer quantization shared by the drift
    workbench tails (contract documented in `cusum_changepoints`).

    ``round_half_up(a/b) = floor((2a + b) / (2b))`` for ANY sign of a
    (half rounds toward +inf). The floor is made portable by
    subtracting the positive residue before the truncating ``div``
    (Spark truncates toward zero; DuckDB ``//`` floors natively — the
    oracle side needs no correction). The earlier form divided the
    raw numerator with ``div`` directly, which for NEGATIVE bin sums
    truncated up instead of flooring — off-by-one vs the oracle."""
    return binned.select(
        "bin",
        F.expr(
            "CAST(_s * 100 AS BIGINT) * 20000 + _n"
        ).alias("_x"),
        F.expr("2 * _n").alias("_d"),
    ).select(
        "bin",
        F.expr("(_x - ((_x % _d) + _d) % _d) div _d").alias("m"),
    )


def theilsen_from_binned(binned: DataFrame) -> DataFrame:
    """Theil-Sen robust trend over a finished ``binned_sums`` relation →
    ONE row ``(n_bins, n_pairs, slope_micro_per_bin)``: the MEDIAN of
    all pairwise slopes ``(m_j − m_i)/(bin_j − bin_i)`` of the
    micro-unit bin means (Theil '50 / Sen '68, public papers) — the
    trend read that a single outlier bin cannot drag, unlike OLS
    (breakdown point 29%). The drift workbench's robust sibling to
    ``events_ols_trend``.

    Portability: micro means are exact BIGINTs; each slope is ONE
    int/int division (per-row rational, unrounded per convention);
    the median picks the middle element(s) under a total order
    (slope, bin_i, bin_j) — even counts average the two middle
    slopes in fixed order. No accumulated float anywhere.

    Scale: the pair enumeration is |bins|² — QUADRATIC IN THE BIN
    COUNT, which is PARAMETER-bounded (time span / step: a year of
    hourly bins is 8,760 rows → 38M pairs), never data-sized. At
    100 TB the data-sized cost lives entirely in the one
    ``binned_sums`` scan-agg; the |bins|-row micro-mean table is then
    COLLECTED (aggregate-sized, same justification as the IVF
    codebooks / bloom word lists — hours-to-days of bins, never rows
    of data) so the scan-agg runs ONCE instead of once per join side,
    and so the pair count is known at the driver. The median rank
    strategy is then chosen on the ACTUAL pair count, not a file-size
    proxy: at most `session.DRIVER_MAX_ROWS` pairs (the ``theilsen``
    gate) → the median in numpy on the driver (ms-scale, and any
    distributed plan is strictly more jobs); above that the pair fanout
    is spread over ``defaultParallelism`` slices and ranked by the
    two-phase ``global_row_number`` (range partition + broadcast
    offsets — never a 38M-row single task, which is what the earlier
    unconditional ``row_number() OVER (ORDER BY …)`` form funneled).
    Ranks are identical across both paths because (slope, bi, bj) is
    a total order.
    """
    spark = binned.sparkSession
    m_rows = sorted(
        (int(r["bin"]), int(r["m"]))
        for r in _micro_means(binned).collect()
    )
    n_bins = len(m_rows)
    n_pairs = n_bins * (n_bins - 1) // 2
    # middle rank(s): odd N -> the single (N+1) div 2; even N -> both
    # N div 2 and N div 2 + 1 (their fixed-order average is the median)
    r_lo = (n_pairs + 1) // 2
    r_hi = n_pairs // 2 + 1
    out_schema = "n_bins long, n_pairs long, slope_micro_per_bin double"
    if n_pairs == 0:
        # zero or one bin → no pairs → zero rows (the grouped-form contract)
        return driver_frame(
            spark,
            {"n_bins": [], "n_pairs": [], "slope_micro_per_bin": []},
            out_schema,
        )
    if driver_small_path("theilsen", n_pairs):
        # SMALL path: the bins are ALREADY on the driver (the collect
        # above — aggregate-sized, the codebook-collect justification),
        # so the bounded-pair median is pure local arithmetic; shipping it
        # back through Spark costs a full extra job (+literal-array
        # analysis) for work numpy finishes in ~20 ms. This is exactly
        # what the single-node oracle engine does, and the adaptive
        # gate keeps everything distributed the moment the pair table
        # outgrows one loop partition (→ explode + two-phase rank).
        import numpy as np

        bins_arr = np.array([b for b, _ in m_rows], dtype=np.int64)
        m_arr = np.array([mm for _, mm in m_rows], dtype=np.int64)
        ii, jj = np.triu_indices(n_bins, k=1)
        slopes_np = (m_arr[jj] - m_arr[ii]).astype(np.float64) / (
            bins_arr[jj] - bins_arr[ii]
        ).astype(np.float64)
        # total order (slope, bi, bj): lexsort keys are LAST-primary
        order = np.lexsort(
            (bins_arr[jj], bins_arr[ii], slopes_np)
        )
        s_lo = float(slopes_np[order[r_lo - 1]])
        s_hi = float(slopes_np[order[r_hi - 1]])
        mid = (min(s_lo, s_hi) + max(s_lo, s_hi)) / 2.0
        # replicate Spark's F.round (BigDecimal HALF_UP) — Python's
        # round() is half-even and would diverge on exact midpoints
        from decimal import ROUND_HALF_UP, Decimal

        val = float(
            Decimal(repr(mid)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        return driver_frame(
            spark,
            {"n_bins": [n_bins], "n_pairs": [n_pairs],
             "slope_micro_per_bin": [val]},
            out_schema,
        )
    # DISTRIBUTED path: pair generation by INDEX explode over
    # spark.range — row i emits sequence(i+1, n−1) partner indices
    # (whole-stage codegen) and both sides' (bin, m) come from
    # literal-array lookups on the collected bins: zero joins, zero
    # broadcasts. (A θ-join BroadcastNestedLoopJoin's interpreted
    # |bins|² predicate measured 1.37 s of a 2.4 s total at sf0.1's
    # 720 bins; per-element F.lit construction another 0.79 s of py4j —
    # hence ONE parsed array(…L) SQL literal per array.) Ranking is the
    # two-phase global_row_number — never a 38M-row single-task sort.
    arr_bin = F.expr(
        "array(%s)" % ",".join("%dL" % b for b, _ in m_rows)
    )
    arr_m = F.expr(
        "array(%s)" % ",".join("%dL" % mm for _, mm in m_rows)
    )
    base = spark.range(max(n_bins - 1, 0)).repartition(
        spark.sparkContext.defaultParallelism
    )
    # element_at is 1-indexed; sequence ascends because id ≤ n−2 here
    pairs = base.select(
        F.element_at(arr_bin, (F.col("id") + 1).cast("int")).alias("bi"),
        F.element_at(arr_m, (F.col("id") + 1).cast("int")).alias("mi"),
        F.explode(
            F.sequence(F.col("id") + 2, F.lit(n_bins))
        ).alias("_j"),
    )
    slopes = pairs.select(
        "bi",
        F.element_at(arr_bin, F.col("_j").cast("int")).alias("bj"),
        (
            (
                F.element_at(arr_m, F.col("_j").cast("int"))
                - F.col("mi")
            ).cast("double")
            / (
                F.element_at(arr_bin, F.col("_j").cast("int"))
                - F.col("bi")
            ).cast("double")
        ).alias("slope"),
    )
    from .transform import global_row_number

    ranked = global_row_number(
        slopes,
        ["slope", "bi", "bj"],
        "_rk",
        single_split=False,
    ).select("slope", "_rk")
    picked = ranked.where(F.col("_rk").isin(r_lo, r_hi))
    # groupBy on the literals (not a global agg) so a pair-less input
    # (n_bins == 1) yields ZERO rows, matching the oracle's grouped form
    return (
        picked.groupBy(
            F.lit(n_bins).cast("long").alias("n_bins"),
            F.lit(n_pairs).cast("long").alias("n_pairs"),
        )
        .agg(
            F.round(
                (F.min("slope") + F.max("slope")) / F.lit(2.0), 6
            ).alias("slope_micro_per_bin")
        )
        .select("n_bins", "n_pairs", "slope_micro_per_bin")
    )


def theilsen_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    step_s: int = 3600,
) -> DataFrame:
    """Batch front door for :func:`theilsen_from_binned`: one
    ``binned_sums`` scan-agg, then the pairwise-median tail over the
    |bins|-row relation."""
    return theilsen_from_binned(
        binned_sums(df, ts_col, value_col, step_s=step_s)
    )


def holt_linear_from_binned(binned: DataFrame) -> DataFrame:
    """Holt's linear (double exponential) smoothing over a finished
    ``binned_sums`` relation → ``(bin, x, level, trend)`` per bin with
    the classic coupled recursion (Holt '57, public paper; α = 0.5,
    β = 0.3, b₁ = 0):

      ``l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})``
      ``b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}``

    — the level-plus-trend smoother the drift workbench reads next to
    EWMA when the series is trending (EWMA alone lags a trend by
    design).

    Portability — the `ewma_anomaly` recursive-twin argument: x is the
    one exact division ``DECIMAL sum / count`` per bin; the recursion
    is a SEQUENTIAL fold in bin order whose IEEE ops are written in
    the identical order on both engines (Spark: a left-to-right
    ``aggregate`` over the sorted bin array; DuckDB: a recursive CTE
    advancing one row per step), with the smoothing constants as
    identical literals — so the raw doubles hash-match bit-for-bit.
    No rounding anywhere.

    Scale: the fold runs over the COLLECTED bin array — |bins| is
    PARAMETER-bounded (time span / step), so the array is hours/days-
    sized at any data volume; the single heavy step is the upstream
    ``binned_sums`` scan-agg. An unbounded-key variant would use
    ``applyInPandasWithState`` per key; for the global binned series
    the array fold is the honest minimal plan.
    """
    x = binned.select(
        "bin", (F.col("_s").cast("double") / F.col("_n")).alias("x")
    )
    arr = x.agg(
        F.sort_array(F.collect_list(F.struct("bin", "x"))).alias("a")
    ).where(F.size("a") > 0)
    folded = arr.selectExpr(
        """
        aggregate(
          slice(a, 2, greatest(size(a) - 1, 0)),
          named_struct(
            'l', a[0].x, 'b', cast(0.0 as double),
            'out', array(named_struct(
              'bin', a[0].bin, 'x', a[0].x,
              'level', a[0].x, 'trend', cast(0.0 as double)))),
          (acc, e) -> named_struct(
            'l', 0.5D * e.x + 0.5D * (acc.l + acc.b),
            'b', 0.3D * ((0.5D * e.x + 0.5D * (acc.l + acc.b)) - acc.l)
                 + 0.7D * acc.b,
            'out', array_append(acc.out, named_struct(
              'bin', e.bin, 'x', e.x,
              'level', 0.5D * e.x + 0.5D * (acc.l + acc.b),
              'trend', 0.3D * ((0.5D * e.x + 0.5D * (acc.l + acc.b))
                               - acc.l) + 0.7D * acc.b)))
        ) AS st
        """
    ).selectExpr("inline(st.out)")
    return folded.orderBy("bin")


def holt_winters_from_binned(
    binned: DataFrame, period: int = 24
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing over a finished
    ``binned_sums`` relation → ``(bin, x, level, trend, seasonal)``
    (Winters '60, public paper; α=0.5, β=0.3, γ=0.2, zero-init
    l₁=x₁, b₁=0, s=0⃗ — the first cycle learns the profile):

      ``l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})``
      ``b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}``
      ``s_t = γ(x_t − l_t) + (1−γ)s_{t−m}``

    — the full level+trend+season smoother over the drift workbench's
    shared relation; `holt_linear` is this with the season frozen at 0.

    Portability — the recursive-twin argument at its strongest: the
    state now includes the ROTATING m-slot seasonal vector, carried as
    an array in Spark's left fold and a LIST column in DuckDB's
    recursive CTE; every step applies the identical IEEE expressions
    (each l_t reference is INLINED identically on both sides) in the
    identical order, so all four output doubles hash-match raw.

    Scale: same as `holt_linear_from_binned` — one fold over the
    PARAMETER-bounded bin array, state O(m); the heavy step is the
    upstream binned_sums scan-agg.
    """
    x = binned.select(
        "bin", (F.col("_s").cast("double") / F.col("_n")).alias("x")
    )
    arr = x.agg(
        F.sort_array(F.collect_list(F.struct("bin", "x"))).alias("a")
    ).where(F.size("a") > 0)
    m = int(period)
    lnew = "0.5D * (e.x - acc.seas[0]) + 0.5D * (acc.l + acc.b)"
    bnew = f"0.3D * (({lnew}) - acc.l) + 0.7D * acc.b"
    snew = f"0.2D * (e.x - ({lnew})) + 0.8D * acc.seas[0]"
    folded = arr.selectExpr(
        f"""
        aggregate(
          slice(a, 2, greatest(size(a) - 1, 0)),
          named_struct(
            'l', a[0].x, 'b', cast(0.0 as double),
            'seas', array_repeat(cast(0.0 as double), {m}),
            'out', array(named_struct(
              'bin', a[0].bin, 'x', a[0].x, 'level', a[0].x,
              'trend', cast(0.0 as double),
              'seasonal', cast(0.0 as double)))),
          (acc, e) -> named_struct(
            'l', {lnew},
            'b', {bnew},
            'seas', array_append(slice(acc.seas, 2, {m - 1}), {snew}),
            'out', array_append(acc.out, named_struct(
              'bin', e.bin, 'x', e.x, 'level', {lnew},
              'trend', {bnew}, 'seasonal', {snew})))
        ) AS st
        """
    ).selectExpr("inline(st.out)")
    return folded.orderBy("bin")


def holt_linear(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    step_s: int = 3600,
) -> DataFrame:
    """Batch front door for :func:`holt_linear_from_binned`: one
    ``binned_sums`` scan-agg, then the sequential fold over the
    |bins|-row relation."""
    return holt_linear_from_binned(
        binned_sums(df, ts_col, value_col, step_s=step_s)
    )


def cusum_from_binned(
    bins: DataFrame, threshold_sigma: int = 4
) -> DataFrame:
    """CUSUM tail over a finished ``binned_sums`` relation (batch or
    drained stream state) — the derive-on-read half of
    :func:`cusum_changepoints`, which documents the exact integer
    contract. The cumulative fold depends on the FULL bin series, so it
    re-runs on read over |bins| rows — non-incremental by semantics,
    cheap by size (the `coverage_from_counts` argument)."""
    from pyspark.sql.window import Window

    mbins = _micro_means(bins)
    stats = mbins.agg(
        F.sum("m").alias("_T"),
        F.count(F.lit(1)).alias("_nb"),
        F.sum(
            F.col("m").cast("decimal(38,0)") * F.col("m")
        ).alias("_sm2"),
    ).select(
        "_T",
        "_nb",
        (
            F.col("_nb").cast("decimal(38,0)") * F.col("_sm2")
            - F.col("_T").cast("decimal(38,0)") * F.col("_T")
        ).alias("_V"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    idx = Window.orderBy("bin")
    joined = mbins.crossJoin(F.broadcast(stats))
    c = F.sum(F.col("m") * F.col("_nb") - F.col("_T")).over(w)
    i = F.row_number().over(idx).cast("long")
    # floor(C/nb) portably and overflow-free: subtract the POSITIVE
    # residue ((C % nb) + nb) % nb so the numerator divides exactly —
    # truncating division (Spark `div`) then equals floor division
    # (DuckDB `//`) with operands never exceeding |C| + nb. The old
    # positivity-shift idiom (shift·nb) overflowed int64 once
    # nb > 9.2e18/shift ≈ 9223 bins, well inside the documented
    # |bins| < 1e5 domain.
    out = joined.select(
        "bin",
        F.col("m").alias("bin_mean_micro"),
        c.cast("long").alias("_c"),
        (
            c.cast("decimal(38,0)") * c
            > F.lit(threshold_sigma * threshold_sigma)
            * F.col("_V")
            * i.cast("decimal(38,0)")
        ).alias("is_changepoint"),
        F.col("_nb"),
    ).select(
        "bin",
        "bin_mean_micro",
        F.expr("(_c - ((_c % _nb) + _nb) % _nb) div _nb").alias(
            "cusum_micro"
        ),
        "is_changepoint",
    )
    return out.orderBy("bin")


def cusum_changepoints(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    step_s: int = 3600,
    threshold_sigma: int = 4,
) -> DataFrame:
    """CUSUM drift detection over a binned series (Page 1954): bin the
    stream, take per-bin mean values, accumulate deviations from the
    GLOBAL mean (classic two-sided tabular CUSUM without reset, the
    audit form), and flag bins where |cusum| exceeds
    ``threshold_sigma·σ·√i`` (the random-walk envelope — a real level
    shift grows LINEARLY in i and escapes the √i envelope; noise stays
    inside).

    Portability — EXACT INTEGER CONTRACT (no float ever reaches the
    output or the boolean): per-bin means are quantized to micro-units
    as ``m = round_half_up(100·S · 10^4 / n)`` from the exact
    DECIMAL(18,2) sum (S_cents = 100·S is an exact BIGINT; half-up via
    ``(a·2 + n) div (2·n)``, valid because ``value >= 0``; DuckDB ``//``
    and Spark ``div`` both truncate, and the numerator is non-negative,
    so the two engines agree bit-for-bit). The cusum is carried as the
    exact BIGINT fold ``C_i = nb·Σ_{j<=i} m_j − i·T`` (deviations
    scaled by nb so no division occurs inside the fold), and the flag
    is the exact integer predicate ``C_i² > σ_thr²·V·i`` where
    ``V = nb·Σm² − T²`` (so that ``(C_i/nb)² > σ_thr²·(V/nb²)·i`` ⟺
    ``|cusum| > σ_thr·σ_pop·√i`` with zero rounding). Squares run in
    DECIMAL(38,0) (HUGEINT on the DuckDB side) — exact at these
    magnitudes. The emitted ``cusum_micro = C_i div nb`` uses a
    positive-shift before the truncating division so floor semantics
    match on negative folds.

    Domain bounds (documented, generous at 100 TB hourly bins):
    per-bin Σ value·2·10^6 must fit BIGINT → per-bin value sum
    < 4.6·10^12; micro-means < 10^10 and |bins| < 10^5 keep C_i under
    10^16 and C_i² / V·i inside DECIMAL(38,0).

    Scale: one bin hash-agg over the scan; everything after runs on the
    BINNED relation (|bins| rows) — a 1-row stats broadcast and one
    ordered window. At 100 TB the bin table is hours/days-sized.

    Output: (bin, bin_mean_micro, cusum_micro, is_changepoint) ordered
    by bin; means/cusum in 1e-6 value units as BIGINTs.
    """
    return cusum_from_binned(
        binned_sums(df, ts_col, value_col, step_s=step_s),
        threshold_sigma=threshold_sigma,
    )


def acf(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 2, 3, 6, 12, 24),
    step_s: int = 3600,
) -> DataFrame:
    """Autocorrelation function of the binned mean-value series at the
    given integer lags → ``(lag, n_pairs, acf)`` — the seasonality
    screen run before fitting any forecast model (a 24-lag spike at
    hourly bins = daily cycle).

    ``acf_k = Σ_t (x_t−μ)(x_{t−k}−μ) / Σ_t (x_t−μ)²`` with x = per-bin
    mean and μ, the variance and all products computed over the BINNED
    series. Per-bin means are exact (DECIMAL sum / BIGINT count, the
    `cusum_changepoints` convention); the moment sums are double folds
    over the bin table, so the final ratio is rounded to 6 dp per the
    repo's transcendental-aggregate rule (reduction-order ulps live far
    below 1e-6 on an hours-sized bin table).

    Scale: one bin hash-agg over the scan (map-side combined);
    everything after runs on the |bins|-row relation — a broadcast
    |lags|-row cross join, one equi-join of the binned series against
    its shifted self, and a |lags|-row aggregate. Missing bins simply
    drop their pairs (no gapfill assumption).
    """
    return acf_from_binned(
        binned_sums(df, ts_col, value_col, step_s=step_s), lags=lags
    )


def acf_from_binned(
    binned: DataFrame, lags: Sequence[int] = (1, 2, 3, 6, 12, 24)
) -> DataFrame:
    """ACF tail over a finished ``binned_sums`` relation (batch or
    drained stream state) — the derive-on-read half of :func:`acf`,
    sharing the drift workbench's one binned aggregate with
    :func:`cusum_from_binned`. Centered moments depend on the global
    bin mean, so the tail re-runs on read — over |bins| rows, never the
    data."""
    bins = (
        binned.select(
            "bin",
            (F.col("_s").cast("double") / F.col("_n")).alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    stats = bins.agg(F.avg("x").alias("_mu"))
    centered = bins.crossJoin(F.broadcast(stats)).select(
        "bin", (F.col("x") - F.col("_mu")).alias("d")
    )
    den = centered.agg(F.sum(F.col("d") * F.col("d")).alias("_den"))
    lag_df = driver_frame(binned.sparkSession, {"lag": [int(l) for l in lags]}, "lag long")
    a = centered.select("bin", F.col("d").alias("da"))
    b = centered.select(F.col("bin").alias("bin_b"), F.col("d").alias("db"))
    paired = (
        a.crossJoin(F.broadcast(lag_df))
        .join(F.broadcast(b), F.col("bin_b") == F.col("bin") + F.col("lag"))
    )
    return (
        paired.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("da") * F.col("db")).alias("_num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            "lag", "n_pairs",
            # a constant series has zero centered energy: acf undefined
            # -> NULL (DuckDB x/0), never an ANSI DIVIDE_BY_ZERO abort
            F.when(
                F.col("_den") != 0,
                F.round(F.col("_num") / F.col("_den"), 6),
            ).alias("acf"),
        )
        .orderBy("lag")
    )


def trend_ols(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group closed-form least-squares trend of value vs time →
    ``(group, n, slope_per_hour, intercept, r2)`` — the drift/trend
    screen (is purchase value creeping up over the month, per event
    type?).

    Engine-portable by construction: x = epoch second MINUS the group's
    own min epoch (small integers), y = the 2-decimal value; every
    power sum (Sx, Sy, Sxx, Sxy, Syy) is an EXACT integer / DECIMAL
    (order-independent addition), is cast to double once, and the
    slope/intercept/r² arithmetic is a fixed-order IEEE expression of
    those exact operands — bit-identical across engines, registered
    UNROUNDED (the repo's per-row-rational rule). slope is scaled to
    per-hour units (×3600) to keep magnitudes readable.

    Scale: one power-sum hash agg over the scan (map-side combined);
    the origin shift and closed form run on the |groups|-row aggregate.
    On a stream, :func:`trend_power_sums` is the complete-mode state and
    :func:`ols_from_power_sums` the report on read.
    """
    return ols_from_power_sums(
        trend_power_sums(df, group_col, ts_col, value_col), group_col
    )


def trend_power_sums(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """The trend fit's mergeable state: per group the count, min epoch
    and the five Σx/Σy/Σx²/Σxy/Σy² moments in exact DECIMAL over
    ABSOLUTE epoch seconds. Every quantity is an associative min/sum of
    exact values, so the relation is the same in any arrival order and
    runs unchanged as complete-mode stream state (|groups| rows).

    x cannot be shifted to the group min before summing — on a stream
    the min keeps moving — so :func:`ols_from_power_sums` applies the
    shift afterwards with exact integer identities.
    """
    x = F.col(ts_col).cast("long").cast("decimal(38,0)")
    y = F.col(value_col).cast("decimal(18,2)")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col(ts_col).cast("long")).alias("_t0"),
            F.sum(x).alias("_rsx"),
            F.sum(y).alias("_sy"),
            # the per-row x² is already DECIMAL: a raw long*long overflows
            # for epochs past ~3.04e9 s (~2066)
            F.sum(x * x).alias("_rsxx"),
            F.sum((y * x).cast("decimal(38,2)")).alias("_rsxy"),
            F.sum((y * y).cast("decimal(38,4)")).alias("_syy"),
        )
    )


def ols_from_power_sums(sums: DataFrame, group_col: str) -> DataFrame:
    """Closed-form OLS report over a :func:`trend_power_sums` relation.
    The absolute-x sums shift to the group-min origin via exact DECIMAL
    identities —

      ``Sx' = Sx − n·t0;  Sxx' = Sxx − 2·t0·Sx + n·t0²;
        Sxy' = Sxy − t0·Sy``

    — integer algebra, no rounding, so the shifted sums are the ones a
    min-relative x would have summed, digit for digit, and the
    fixed-order double arithmetic below is bit-identical for a batch
    aggregate and a drained stream alike. Overflow headroom: with epoch
    ≈ 1.7e9 s, Σx² per group stays inside DECIMAL(38,0) up to ~3·10¹⁸
    rows."""
    t0 = F.col("_t0").cast("decimal(38,0)")
    n_dec = F.col("n").cast("decimal(38,0)")
    n = F.col("n").cast("double")
    sx = (F.col("_rsx") - n_dec * t0).cast("decimal(38,0)").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = (
        (F.col("_rsxx") - F.lit(2) * t0 * F.col("_rsx") + n_dec * t0 * t0)
        .cast("decimal(38,0)").cast("double")
    )
    sxy = (
        (F.col("_rsxy") - t0 * F.col("_sy"))
        .cast("decimal(38,2)").cast("double")
    )
    syy = F.col("_syy").cast("double")
    # degenerate denominators (a one-point group / all-equal x => no fit;
    # zero y-variance => r² undefined) surface as NULL instead of an
    # ANSI-mode divide-by-zero — the fixture tables never hit them, so
    # the guards don't perturb oracle parity
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    num = n * sxy - sx * sy
    slope = F.when(den_x != 0, num / den_x)
    return sums.select(
        F.col("grp").alias(group_col),
        "n",
        (slope * F.lit(3600.0)).alias("slope_per_hour"),
        ((sy - slope * sx) / n).alias("intercept"),
        F.when((den_x != 0) & (den_y != 0), (num / den_x) * num / den_y)
        .alias("r2"),
    ).orderBy(group_col)


def seasonal_naive_eval(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    season_lag: int = 24,
    step_s: int = 3600,
) -> DataFrame:
    """Forecastability screen via the seasonal-naive baseline → ONE row
    ``(n_pairs, mae, scale_mae, mase)``: predict each hourly bin mean by
    the value one season earlier (x̂_t = x_{t-lag}), report the mean
    absolute error, the lag-1 naive error as scale, and their ratio
    MASE (Hyndman & Koehler '06 — public paper). MASE < 1 ⇒ the daily
    cycle alone beats a random-walk forecast — run THIS before fitting
    any model; if seasonal-naive already fails, the series is noise at
    this grain.

    Portability: bin means are exact (DECIMAL sum / count); the error
    sums fold the |bins|-row relation, so mae/mase are rounded to 6 dp
    per the transcendental-aggregate rule (abs crosses no rounding, but
    the fold order does).

    Scale: one bin hash-agg over the scan; both error joins run on the
    binned relation with the shifted side broadcast (hours-sized at any
    stream length); the output is one row.
    """
    bin_col = (F.col(ts_col).cast("long") / F.lit(step_s)).cast("long")
    bins = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_s"),
        )
        .select(
            "bin", (F.col("_s").cast("double") / F.col("_n")).alias("x")
        )
    )
    prev = bins.select(F.col("bin").alias("bin_p"), F.col("x").alias("xp"))
    season = (
        bins.join(
            F.broadcast(prev),
            F.col("bin_p") == F.col("bin") - F.lit(season_lag),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.abs(F.col("x") - F.col("xp"))).alias("_ae"),
        )
    )
    naive1 = (
        bins.join(
            F.broadcast(prev), F.col("bin_p") == F.col("bin") - F.lit(1)
        )
        .agg(
            F.count(F.lit(1)).alias("_n1"),
            F.sum(F.abs(F.col("x") - F.col("xp"))).alias("_ae1"),
        )
    )
    return season.crossJoin(F.broadcast(naive1)).select(
        "n_pairs",
        F.round(F.col("_ae") / F.col("n_pairs"), 6).alias("mae"),
        F.round(F.col("_ae1") / F.col("_n1"), 6).alias("scale_mae"),
        # a CONSTANT series makes the naive-1 scale 0 (perfect naive
        # forecast): MASE undefined -> NULL (DuckDB x/0), not an ANSI
        # abort taking the whole workbench down
        F.when(
            F.col("_ae1") != 0,
            F.round(
                (F.col("_ae") / F.col("n_pairs"))
                / (F.col("_ae1") / F.col("_n1")),
                6,
            ),
        ).alias("mase"),
    )


def km_gap_survival(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    step_s: int = 3600,
    censor_buckets: int = 24,
) -> DataFrame:
    """Kaplan-Meier survival curve of per-key inter-event gaps →
    ``(t, n_at_risk, n_events, survival)``: P(the next event takes
    longer than t) estimated with right-censoring (Kaplan & Meier '58 —
    public paper). The engagement/latency read behind every retention
    dashboard: where `events_user_gap_stats` reports moments, this is
    the full distribution — and the censoring handling is what naive
    "histogram of gaps" gets wrong (a gap longer than the observation
    cap still proves survival THROUGH the cap).

    Gaps bucket to ``step_s`` units; gaps ≥ ``censor_buckets`` are
    censored there: they stay in every risk set but never count as
    events — which also keeps survival strictly positive (no ln(0)
    divergence between engines; Spark's log returns NULL at 0 where
    libm returns -inf). A terminal bucket where every remaining gap
    dies (d = n) is dropped for the same reason — the curve is
    reported up to its collapse point.

    ``S(t) = Π_{u≤t} (1 − d_u/n_u)`` computed as exp of an ordered
    cumulative sum of ``ln(1 − d/n)`` over the BUCKET GRID
    (aggregate-sized: ``censor_buckets`` rows at any input size), with
    d, n exact BIGINTs; rounded to 6 dp per the transcendental rule.

    Scale: one lead() window keyed by ``key_col`` (one shuffle of the
    scan), one bucket hash-agg, then all KM arithmetic on the
    |buckets|-row relation.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col("_t").asc(), F.col(seq_col).asc()
    )
    gaps = (
        df.select(
            F.col(key_col),
            F.col(ts_col).cast("long").alias("_t"),
            F.col(seq_col),
        )
        .withColumn("_gap", F.lead("_t").over(w) - F.col("_t"))
        .where(F.col("_gap").isNotNull())
        .select(
            F.least(
                (F.col("_gap") / F.lit(step_s)).cast("long"),
                F.lit(censor_buckets),
            ).alias("b")
        )
    )
    counts = gaps.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    total = counts.agg(F.sum("n_b").alias("_total"))
    wb = Window.orderBy("b")
    grid = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "b", "n_b",
            (F.col("_total")
             - F.coalesce(
                 F.sum("n_b").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
                 F.lit(0),
             )).alias("n_at_risk"),
        )
        .where(
            (F.col("b") < censor_buckets)
            & (F.col("n_at_risk") > F.col("n_b"))
        )
        .select(
            F.col("b").alias("t"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("n_b").cast("long").alias("n_events"),
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            F.lit(1.0)
                            - F.col("n_b") / F.col("n_at_risk")
                        )
                    ).over(wb.rowsBetween(Window.unboundedPreceding, 0))
                ),
                6,
            ).alias("survival"),
        )
    )
    return grid.orderBy("t")


def seasonality_strength(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    step_s: int = 3600,
    period: int = 24,
) -> DataFrame:
    """Variance-explained seasonality strength → ONE row
    ``(n_bins, var_total, var_resid, strength)`` where
    ``strength = 1 − var(x − seasonal_mean)/var(x)`` over the binned
    mean series and its phase-of-period profile (the STL-style strength
    statistic, Hyndman's feasts formulation — public literature). The
    scalar companion to `acf`/`seasonal_naive_eval`: one number that
    says how much of the series the daily cycle explains.

    Portability: bin means are exact (DECIMAL sum / count); the phase
    profile is a |period|-row aggregate broadcast back; both variances
    fold the |bins|-row relation, so the outputs are rounded to 6 dp
    per the transcendental-aggregate rule.

    Scale: one bin hash-agg over the scan, a period-sized profile agg,
    one broadcast join, one final one-row aggregate.
    """
    bin_col = (F.col(ts_col).cast("long") / F.lit(step_s)).cast("long")
    bins = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_s"),
        )
        .select(
            "bin",
            (F.col("bin") % F.lit(period)).alias("phase"),
            (F.col("_s").cast("double") / F.col("_n")).alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    profile = bins.groupBy("phase").agg(F.avg("x").alias("m"))
    joined = bins.join(F.broadcast(profile), "phase")
    return joined.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(F.var_pop("x"), 6).alias("var_total"),
        F.round(F.var_pop(F.col("x") - F.col("m")), 6).alias("var_resid"),
        # constant series: var_total = 0, strength undefined -> NULL
        # (the DuckDB x/0 behavior; ANSI Spark would abort instead)
        F.when(
            F.var_pop("x") != 0,
            F.round(
                F.lit(1.0)
                - F.var_pop(F.col("x") - F.col("m")) / F.var_pop("x"),
                6,
            ),
        ).alias("strength"),
    )


def mad_anomalies_from_binned(binned: DataFrame, k: int = 5) -> DataFrame:
    """Robust MAD anomaly screen over a finished ``binned_sums``
    relation → every bin tagged ``(bin, m, med_m, mad, is_anomaly)``.
    The drift workbench's outlier tail: median + median-absolute-
    deviation are the robust (breakdown 50%) location/scale pair, so a
    burst bin cannot drag the threshold the way it drags the mean/σ the
    EWMA and CUSUM tails use (Hampel '74, public literature).

    Exact-integer contract (the cusum idiom): bin means are half-up
    micro-unit BIGINTs; the median is the LOWER median — the element at
    rank ``(n+1) div 2`` under the total order (m, bin) — so it is an
    ELEMENT of the series, never an averaged float; MAD is the lower
    median of the BIGINT deviations; the flag is the exact integer
    predicate ``|m − med| > k·MAD``. No float reaches the output or
    the boolean on either engine.

    Scale: cost lives in the ``binned_sums`` scan-agg; everything here
    is |bins|-sized (parameter-bounded — a year of hourly bins is 8,760
    rows), computed as ONE fused chain of full-frame window passes over
    that relation (single-task by design, like the other workbench
    tails) — no per-statistic subquery jobs, no joins.
    """
    from pyspark.sql.window import Window

    w_all = Window.partitionBy()
    s1 = _micro_means(binned).select(
        "bin", "m",
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.row_number().over(Window.orderBy("m", "bin")).alias("_rk"),
    )
    # the lower median is an ELEMENT: pick the rank-(n+1)div2 value and
    # spread it across the frame with a windowed max-of-one-non-null
    s2 = s1.select(
        "bin", "m", "_n",
        F.max(
            F.when(F.col("_rk") == F.expr("(_n + 1) div 2"), F.col("m"))
        ).over(w_all).alias("med_m"),
    )
    s3 = s2.select(
        "bin", "m", "_n", "med_m",
        F.abs(F.col("m") - F.col("med_m")).alias("_d"),
    )
    s4 = s3.select(
        "bin", "m", "_n", "med_m", "_d",
        F.row_number().over(Window.orderBy("_d", "bin")).alias("_rk"),
    )
    s5 = s4.select(
        "bin", "m", "med_m", "_d",
        F.max(
            F.when(F.col("_rk") == F.expr("(_n + 1) div 2"), F.col("_d"))
        ).over(w_all).alias("mad"),
    )
    return s5.select(
        "bin", "m", "med_m", "mad",
        (F.col("_d") > F.lit(k) * F.col("mad")).alias("is_anomaly"),
    ).orderBy("bin")


def kendall_from_binned(binned: DataFrame) -> DataFrame:
    """Kendall tau-a monotone-trend test over a finished ``binned_sums``
    relation → ONE row ``(n_bins, n_pairs, concordant, discordant,
    ties, kendall_tau)`` (Kendall '38, public literature). The
    rank-based sibling of ``events_ols_trend`` / ``ts_theilsen_trend``:
    concordance counting is immune to the value scale entirely, so it
    confirms a drift direction even when the series is heteroscedastic.

    Portability: micro-unit BIGINT means make every pair comparison an
    exact integer predicate; the three counts are BIGINTs and
    ``tau = (C − D) / n_pairs`` is one int/int rational (unrounded per
    convention).

    Scale: |bins|² pair enumeration — quadratic in the PARAMETER-bounded
    bin count (8,760 hourly bins/year → 38M pairs, engine-trivial),
    never data-sized; the bin table broadcasts.
    """
    m = _micro_means(binned)
    counts = m.agg(F.count(F.lit(1)).alias("n_bins"))
    a = m.select(F.col("bin").alias("bi"), F.col("m").alias("mi"))
    b = m.select(F.col("bin").alias("bj"), F.col("m").alias("mj"))
    pairs = a.join(F.broadcast(b), F.col("bi") < F.col("bj"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("mj") > F.col("mi"), 1).otherwise(0))
        .cast("long").alias("concordant"),
        F.sum(F.when(F.col("mj") < F.col("mi"), 1).otherwise(0))
        .cast("long").alias("discordant"),
        F.sum(F.when(F.col("mj") == F.col("mi"), 1).otherwise(0))
        .cast("long").alias("ties"),
    ).crossJoin(F.broadcast(counts)).select(
        "n_bins", "n_pairs", "concordant", "discordant", "ties",
        (
            (F.col("concordant") - F.col("discordant"))
            / F.col("n_pairs")
        ).alias("kendall_tau"),
    )


def bollinger_from_binned(
    binned: DataFrame, window: int = 24, k: int = 2
) -> DataFrame:
    """Bollinger-band breakout flags over a finished ``binned_sums``
    relation → the bins with a full trailing window, tagged
    ``(bin, m, win_n, is_upper_break, is_lower_break)`` (Bollinger '80s
    trading literature; here a volatility-scaled drift screen: a break
    means the newest bin sits >k rolling σ from the rolling mean).

    Exact-integer contract: with S1 = Σm and S2 = Σm² over the trailing
    ``window`` bins (micro-unit BIGINT means, squared on the
    DECIMAL(38,0)/HUGEINT pathway — m² alone can reach 1e18), the flag
    ``|m − S1/w| > k·σ`` is algebraically cleared of divisions to the
    exact integer predicate ``(w·m − S1)² > k²·(w·S2 − S1²)``, and the
    side comes from the exact sign of ``w·m − S1``. No float reaches
    the output or the booleans on either engine.

    Scale: one |bins|-sized window pass after the ``binned_sums``
    scan-agg; single-task by design over the parameter-bounded bin
    count, exactly like the other workbench tails.
    """
    from pyspark.sql.window import Window

    m = _micro_means(binned)
    w = (
        Window.orderBy("bin")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    md = F.col("m").cast("decimal(38,0)")
    rolled = m.select(
        "bin",
        "m",
        F.count(F.lit(1)).over(w).alias("win_n"),
        F.sum(md).over(w).alias("_s1"),
        F.sum(md * md).over(w).alias("_s2"),
    ).where(F.col("win_n") == window)
    dev = (F.lit(window).cast("decimal(38,0)") * F.col("m").cast("decimal(38,0)")
           - F.col("_s1"))
    nvar = (F.lit(window).cast("decimal(38,0)") * F.col("_s2")
            - F.col("_s1") * F.col("_s1"))
    breaks = dev * dev > F.lit(k * k).cast("decimal(38,0)") * nvar
    return rolled.select(
        "bin", "m", "win_n",
        (breaks & (dev > 0)).alias("is_upper_break"),
        (breaks & (dev < 0)).alias("is_lower_break"),
    ).orderBy("bin")


def max_drawdown(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    step_s: int = 86400,
) -> DataFrame:
    """Per-key maximum drawdown of the binned value series →
    ``(key, n_bins, peak_cents, max_drawdown_cents, max_dd_frac)``:
    the worst peak-to-trough drop of e.g. daily revenue per event
    type — the risk metric that says "this stream fell X% off its
    running high", which a mean/σ screen cannot express.

    Exactness: per-bin series values are exact BIGINT cents from the
    DECIMAL sum; the running peak is an integer window max; the
    drawdown is an integer difference; ``max_dd_frac`` is the maximum
    over bins of the int/int rational ``dd/peak`` — every candidate
    ratio is bit-identical across engines, so their max is too.

    Scale: one map-side-combined hash agg to |keys|×|bins| rows, then a
    per-key ordered window pass over that parameter-bounded relation;
    the final agg is |keys|-sized.
    """
    from pyspark.sql.window import Window

    bins = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            (F.col(ts_col).cast("long") / F.lit(step_s)).cast("long")
            .alias("bin"),
        )
        .agg(
            (F.sum(F.col(value_col).cast("decimal(18,2)")) * 100)
            .cast("long").alias("v"),
        )
    )
    w = (
        Window.partitionBy("key").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = bins.select(
        "key", "bin", "v", F.max("v").over(w).alias("peak")
    )
    return (
        run.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.max("peak").alias("peak_cents"),
            F.max(F.col("peak") - F.col("v")).alias("max_drawdown_cents"),
            # an all-zero series has peak = 0: the fraction is undefined
            # -> NULL (DuckDB 0/0), never an ANSI DIVIDE_BY_ZERO abort
            F.max(
                F.when(
                    F.col("peak") != 0,
                    (F.col("peak") - F.col("v")) / F.col("peak"),
                )
            ).alias("max_dd_frac"),
        )
        .select(
            F.col("key").alias(key_col),
            "n_bins", "peak_cents", "max_drawdown_cents", "max_dd_frac",
        )
        .orderBy(key_col)
    )


def permutation_entropy_from_binned(binned: DataFrame) -> DataFrame:
    """Order-3 permutation entropy over a finished ``binned_sums``
    relation → ONE row ``(n_triples, n_patterns, perm_entropy,
    normalized_pe)`` (Bandt & Pompe '02, public paper). The complexity
    tail of the drift workbench: each consecutive bin-mean triple maps
    to its ordinal pattern (which of the 6 orderings the values take);
    a regular/periodic series concentrates on few patterns (low
    entropy), noise spreads over all six (normalized ≈ 1). Robust to
    monotone transforms of the values — only the ORDER matters, so it
    complements the magnitude-based tails (CUSUM/MAD/Bollinger).

    Portability: micro-unit BIGINT means make every ordinal comparison
    exact; ties break by position (stable argsort — the standard
    convention); pattern counts are BIGINTs and each p_i = n_i/N is an
    exact rational. The entropy sum folds ≤ 6 transcendental terms —
    round(6) absorbs fold order per the cosine/geo-mean convention.

    Scale: one |bins|-sized window pass (parameter-bounded,
    single-task by design like the other tails) then a ≤6-row agg.
    """
    from pyspark.sql.window import Window

    m = _micro_means(binned)
    w = Window.orderBy("bin")
    tri = m.select(
        F.lag("m", 2).over(w).alias("a"),
        F.lag("m", 1).over(w).alias("b"),
        F.col("m").alias("c"),
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    ab = F.col("a") <= F.col("b")
    ac = F.col("a") <= F.col("c")
    bc = F.col("b") <= F.col("c")
    pattern = (
        F.when(ab & bc, "012")
        .when(ab & ~bc & ac, "021")
        .when(ab & ~bc & ~ac, "201")
        .when(~ab & ac, "102")
        .when(~ab & ~ac & bc, "120")
        .otherwise("210")
    )
    counts = tri.groupBy(pattern.alias("pattern")).agg(
        F.count(F.lit(1)).alias("n")
    )
    withp = counts.select(
        "n",
        F.sum("n").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_N"),
    )
    ent = -F.sum(
        (F.col("n") / F.col("_N")) * F.log(F.col("n") / F.col("_N"))
    )
    return withp.agg(
        F.max("_N").cast("long").alias("n_triples"),
        F.count(F.lit(1)).alias("n_patterns"),
        F.round(ent, 6).alias("perm_entropy"),
        F.round(ent / F.log(F.lit(6.0)), 6).alias("normalized_pe"),
    )


def interarrival_burstiness(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Goh-Barabási burstiness of inter-arrival gaps →
    per type ``(type, n_gaps, mean_gap_s, burstiness)`` where
    ``B = (σ−μ)/(σ+μ)`` over the gaps between consecutive events
    (Goh & Barabási '08, public paper): B → −1 for a metronome,
    0 for a Poisson process, → +1 for extreme bursts. The
    point-process companion of the binned workbench tails — it reads
    the raw arrival texture that hourly binning averages away.

    Gaps are taken WITHIN each (type, key) timeline — the keyed window
    keeps the lag pass distributed (a global per-type ordering would
    funnel a type's whole history through one task at 100 TB) and is
    the behaviorally right read: user-to-user silences are not bursts.

    Portability: gaps are truncating epoch-second BIGINT differences;
    Σg and Σg² fold exactly (g² on the DECIMAL(38,0)/HUGEINT pathway);
    ``mean_gap_s = S1/n`` is an int/int rational and B is a fixed
    expression tree over exactly-equal operands
    (σ = √((n·S2 − S1²))/n, then (σ−μ)/(σ+μ)) — round(6) absorbs
    nothing here but guards the √ boundary per the transcendental
    convention.

    Scale: one keyed-window pass, one hash agg to |types| rows.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(type_col, key_col).orderBy(ts_col)
    g = (
        df.select(
            F.col(type_col).alias("type"),
            (
                F.col(ts_col).cast("long")
                - F.lag(F.col(ts_col).cast("long")).over(w)
            ).alias("_g"),
        )
        .where(F.col("_g").isNotNull())
    )
    gd = F.col("_g").cast("decimal(38,0)")
    agg = g.groupBy("type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("_g").cast("long").alias("_s1"),
        F.sum(gd * gd).alias("_s2"),
    )
    n = F.col("n_gaps").cast("double")
    s1 = F.col("_s1").cast("double")
    sigma = F.sqrt(
        F.col("n_gaps").cast("decimal(38,0)") * F.col("_s2")
        - F.col("_s1").cast("decimal(38,0)")
        * F.col("_s1").cast("decimal(38,0)")
    ).cast("double") / n
    mu = s1 / n
    return agg.select(
        F.col("type").alias("event_type"),
        "n_gaps",
        (F.col("_s1") / F.col("n_gaps")).alias("mean_gap_s"),
        # σ + μ = 0 ⟺ every gap is zero (simultaneous events): B is
        # undefined — NULL, matching DuckDB's 0/0 → NULL, instead of an
        # ANSI DIVIDE_BY_ZERO abort taking the whole audit down because
        # one timeline somewhere in the corpus is degenerate
        F.when(
            sigma + mu != F.lit(0.0), F.round((sigma - mu) / (sigma + mu), 6)
        ).alias("burstiness"),
    ).orderBy("event_type")
