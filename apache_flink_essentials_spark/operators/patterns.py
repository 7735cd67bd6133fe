"""CEP-style event-pattern detection (Flink CEP analog, reference's
ProcessFunction territory — `/root/reference/src/main/scala/.../
ProcessFunctions` has no CEP job, but CEP is the canonical Flink
"what the process function is for" workload, and the north-star's
stream-analytics surface needs it).

Two pattern families, both expressed as per-key WINDOW passes — a single
sort-shuffle on the key, no self-joins, no Python:

  * strict contiguity (Flink `next()`): the pattern types must occur on
    CONSECUTIVE events of the key's timeline. `lead()` chains check the
    next L-1 event types and the time span in one window.
  * absence (Flink `notFollowedBy` + within): event A with NO event B for
    the same key in (ts, ts + within]. A reverse-prefix `min()` window
    finds the next B timestamp without a join.

The relaxed-contiguity family (`followedBy`) is `transform.funnel_steps`.

Scale: both ops cost exactly one Exchange (hash on the key) + per-partition
sort — the same shape as any keyed window aggregation, so they inherit
Spark's spill-safe sort-based window execution at 100 TB. Pattern length L
adds L-1 `lead()` columns, not extra passes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_essentials_spark.session import small_input


def match_strict_sequence(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    pattern: Sequence[str],
    within_seconds: int | None = None,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """All strict-contiguity matches of ``pattern`` on each key's timeline.

    A match at event e_i requires type(e_i)=pattern[0],
    type(e_{i+1})=pattern[1], ... on CONSECUTIVE events (Flink CEP
    ``next``), and optionally last.ts - first.ts <= within_seconds.

    Returns (key, start_ts, end_ts, span_seconds), one row per match
    (overlapping matches all reported, as in CEP's default after-match
    skip-to-next-row policy).

    ``order_cols`` breaks timestamp ties deterministically (e.g. event_id).
    """
    L = len(pattern)
    if L < 1:
        raise ValueError("pattern must have at least one step")
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    out = df.select(
        key_col,
        F.col(ts_col).alias("start_ts"),
        F.col(type_col).alias("_t0"),
        *[
            F.lead(type_col, i).over(w).alias(f"_t{i}")
            for i in range(1, L)
        ],
        (F.lead(ts_col, L - 1).over(w) if L > 1 else F.col(ts_col)).alias(
            "end_ts"
        ),
    )
    cond = F.col("_t0") == pattern[0]
    for i in range(1, L):
        cond = cond & (F.col(f"_t{i}") == pattern[i])
    span = F.col("end_ts").cast("long") - F.col("start_ts").cast("long")
    if within_seconds is not None:
        cond = cond & (span <= within_seconds)
    return out.filter(cond).select(
        key_col, "start_ts", "end_ts", span.alias("span_seconds")
    )


def match_absence(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    first: str,
    absent: str,
    within_seconds: int,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Events of type ``first`` with NO event of type ``absent`` for the
    same key in ``[ts, ts + within_seconds]`` among rows ordered AFTER the
    ``first`` event (so an ``absent`` event at the identical timestamp but
    later in the (ts, *order_cols) sort also suppresses the match — the
    left boundary is closed) — Flink CEP's ``notFollowedBy().within()``
    (e.g. view with no purchase in 30 min).

    Joinless: the next ``absent`` timestamp at or after each row is a
    running ``min`` over the rows that follow it in the key's (ts,
    *order_cols) timeline, taken over the reversed order (every column
    descending; nulls last mirrors ascending's nulls first) with a
    ``(unboundedPreceding, -1)`` frame. Spark grows that frame row by row,
    one pass per key; a ``(1, unboundedFollowing)`` frame is recomputed
    for every row, O(n²) per key. Returns (key, ts, next_<absent>_ts
    nullable).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.desc(c) for c in (ts_col, *order_cols)])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    next_absent = F.min(
        F.when(F.col(type_col) == absent, F.col(ts_col))
    ).over(w)
    flagged = df.select(
        key_col,
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("_type"),
        next_absent.alias("next_absent_ts"),
    )
    gap = F.col("next_absent_ts").cast("long") - F.col("ts").cast("long")
    return flagged.filter(
        (F.col("_type") == first)
        & (F.col("next_absent_ts").isNull() | (gap > within_seconds))
    ).select(key_col, "ts", "next_absent_ts")


def last_touch_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    target: str = "purchase",
    within_seconds: int = 3600,
) -> DataFrame:
    """Last-touch attribution: each ``target`` event is credited to the most
    recent PRECEDING event of any other type for the same key within
    ``within_seconds`` — the marketing-attribution primitive (Flink-side a
    keyed ProcessFunction holding last-seen state; here one window pass).

    Joinless: the running max of (ts, id, type) STRUCTS over
    strictly-preceding non-target rows rides the per-key sort the timeline
    needs anyway; lexicographic struct ordering makes the tiebreak (latest
    ts, then highest id) explicit and engine-portable. The struct carries
    FULL-RESOLUTION epoch micros — comparing on second-floored ts would
    let an earlier event with a higher id in the same second beat a
    genuinely later one; only the EMITTED ts/gap columns floor to seconds.
    The within-window test is likewise micro-exact. Output: one row per
    target event with the attributed (type, id, gap) or nulls when nothing
    qualifies inside the window.
    """
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.max(
        F.when(
            F.col(type_col) != target,
            F.struct(
                ts_us.alias("ts"),
                F.col(id_col).alias("id"),
                F.col(type_col).alias("t"),
            ),
        )
    ).over(w)
    base = df.select(
        F.col(key_col),
        F.col(id_col),
        F.col(type_col),
        ts_us.alias("_ts_us"),
        prev.alias("_prev"),
    )
    qualified = F.col("_prev").isNotNull() & (
        F.col("_ts_us") - F.col("_prev.ts") <= within_seconds * 1_000_000
    )
    prev_ts_s = F.floor(F.col("_prev.ts") / 1_000_000).cast("long")
    target_ts_s = F.floor(F.col("_ts_us") / 1_000_000).cast("long")
    return base.filter(F.col(type_col) == target).select(
        F.col(key_col),
        F.col(id_col).alias("target_id"),
        target_ts_s.alias("target_ts_s"),
        F.when(qualified, F.col("_prev.t")).alias("attributed_type"),
        F.when(qualified, F.col("_prev.id")).alias("attributed_id"),
        F.when(qualified, target_ts_s - prev_ts_s).alias("gap_seconds"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str = "user_id",
    item_col: str = "event_type",
    min_support: int = 2,
) -> DataFrame:
    """Market-basket association rules over per-basket DISTINCT item sets
    (Agrawal & Srikant, VLDB '94 — the pairwise tier): for each ordered
    item pair (a → b), support = |baskets with both|, confidence =
    support / |baskets with a|, lift = confidence / (|baskets with b| /
    |baskets|). All counts are integers; the divisions are fixed-operand-
    order int/int → engine-portable doubles (rounded to 6 dp).

    Scale: the distinct (basket, item) projection is one shuffle; the
    pair generation is a SELF-JOIN ON BASKET — bounded per basket by the
    distinct-item count (the item DOMAIN, not the event count; baskets
    are capped at |domain|² pairs, the classic a-priori pairwise bound),
    never a global cross. Item marginals are domain-sized and broadcast
    both ways.
    """
    bi = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    # bi feeds FOUR consumers (n_baskets, marginals, both self-join
    # sides); on a large or unknown input the lazily-materialized form
    # beats four recomputations of the scan+distinct — on a small one
    # (`session.small_input`), recompute is cheaper than the write
    if not small_input("association_rules", df):
        bi = bi.localCheckpoint(eager=False)
    nb = bi.agg(F.countDistinct("basket").alias("n_baskets"))
    item_counts = bi.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    pairs = (
        bi.alias("l")
        .join(bi.alias("r"), "basket")
        .where(F.col("l.item") != F.col("r.item"))
        .groupBy(
            F.col("l.item").alias("antecedent"),
            F.col("r.item").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    ia = item_counts.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_ante")
    )
    ic = item_counts.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_cons")
    )
    out = (
        pairs.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "support",
            F.round(F.col("support") / F.col("n_ante"), 6).alias("confidence"),
            F.round(
                (F.col("support") / F.col("n_ante"))
                / (F.col("n_cons") / F.col("n_baskets")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )
    return out


def diff_in_diff(
    df,
    unit_col: str,
    ts_col: str,
    value_col: str,
    treated_units,
    cutover_ts: str,
    outcome_filter=None,
):
    """Difference-in-differences estimate → ONE row with the four cell
    means (treated/control × pre/post) and
    ``did = (post_T − pre_T) − (post_C − pre_C)`` — the
    launch-evaluation workhorse when you have a before/after boundary
    and a treated cohort but no randomized holdout (Card & Krueger '94
    popularized the design — public literature).

    ``treated_units`` is a one-column DataFrame of treated unit ids
    (broadcast-joined as a membership flag); ``cutover_ts`` splits
    pre/post; ``outcome_filter`` optionally restricts the outcome rows
    (e.g. purchase events only).

    Determinism: each cell mean is an exact DECIMAL sum / BIGINT count
    (one IEEE division); the DiD arithmetic is fixed-order doubles over
    those four deterministic means — engine-portable UNROUNDED.

    Scale: ONE scan, one 4-cell hash aggregate (map-side combined); the
    treated set joins as a broadcast-or-shuffle left_semi-style flag at
    |units| cardinality. Nothing bigger than four rows leaves the agg.
    """
    from pyspark.sql import functions as F

    base = df.where(F.col(value_col).isNotNull())
    if outcome_filter is not None:
        base = base.where(outcome_filter)
    tr = treated_units.toDF("_tu").withColumn("_treated", F.lit(1))
    cells = (
        base.join(tr, base[unit_col] == F.col("_tu"), "left")
        .select(
            F.coalesce(F.col("_treated"), F.lit(0)).alias("treated"),
            (F.col(ts_col) >= F.lit(cutover_ts).cast("timestamp"))
            .cast("int").alias("post"),
            F.col(value_col).cast("decimal(18,2)").alias("y"),
        )
        .groupBy("treated", "post")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
        .select(
            "treated", "post", "n",
            (F.col("s").cast("double") / F.col("n")).alias("mean"),
        )
    )
    # the 4-row cell relation widens with conditional sums (each cell
    # contributes exactly one non-null mean) — cheaper and more explicit
    # than a pivot for a fixed 2x2 grid
    wide = (
        cells.select(
            F.sum(F.when((F.col("treated") == 1) & (F.col("post") == 0),
                         F.col("mean"))).alias("pre_treated"),
            F.sum(F.when((F.col("treated") == 1) & (F.col("post") == 1),
                         F.col("mean"))).alias("post_treated"),
            F.sum(F.when((F.col("treated") == 0) & (F.col("post") == 0),
                         F.col("mean"))).alias("pre_control"),
            F.sum(F.when((F.col("treated") == 0) & (F.col("post") == 1),
                         F.col("mean"))).alias("post_control"),
            F.sum(F.col("n")).alias("n_outcomes"),
        )
    )
    return wide.select(
        "n_outcomes", "pre_control", "post_control", "pre_treated",
        "post_treated",
        ((F.col("post_treated") - F.col("pre_treated"))
         - (F.col("post_control") - F.col("pre_control"))).alias("did"),
    )


def funnel_gap_quantiles(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    first_type: str,
    then_type: str,
) -> DataFrame:
    """Time-to-convert distribution for a two-step funnel → ONE row
    ``(n_converted, min_s, p25_s, median_s, p75_s, max_s)``: the gap in
    seconds between each key's FIRST ``first_type`` event and its first
    ``then_type`` event at-or-after it. The latency companion to the
    conversion-rate funnels: two products can share a conversion rate
    while one converts in minutes and the other in weeks.

    Exact-element quantiles (the ``ts_mad_bins`` lower-median idiom):
    gaps are truncating epoch-second BIGINT differences; p25/median/p75
    are the ELEMENTS at ranks ``max(1, (k·(n+1)) div 4)`` (k = 1,2,3)
    under the total order (gap, key) — never interpolated floats, so
    the row is bit-identical across engines.

    Scale: two hash aggs keyed by ``key_col`` (the second carries one
    row per converting key), then a |converters|-sized rank pass —
    single-task by design only at the final quantile pick, which reads
    a relation bounded by the converting-user count. For a 100 TB
    events table swap the exact picks for `sketches.py` quantile bands
    and keep the output contract.
    """
    firsts = (
        df.where(F.col(type_col) == first_type)
        .groupBy(F.col(key_col).alias("k"))
        .agg(F.min(F.col(ts_col).cast("long")).alias("_t0"))
    )
    gaps = (
        df.where(F.col(type_col) == then_type)
        .select(
            F.col(key_col).alias("k"),
            F.col(ts_col).cast("long").alias("_t1"),
        )
        .join(firsts, "k")
        .where(F.col("_t1") >= F.col("_t0"))
        .groupBy("k")
        .agg((F.min("_t1") - F.min("_t0")).alias("gap_s"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = gaps.select(
        "gap_s",
        F.row_number().over(Window.orderBy("gap_s", "k")).alias("_rk"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    )
    pick = lambda k: F.max(  # noqa: E731
        F.when(
            F.col("_rk")
            == F.greatest(F.lit(1), F.expr(f"({k} * (_n + 1)) div 4")),
            F.col("gap_s"),
        )
    )
    return ranked.agg(
        F.max("_n").cast("long").alias("n_converted"),
        F.min("gap_s").alias("min_s"),
        pick(1).alias("p25_s"),
        pick(2).alias("median_s"),
        pick(3).alias("p75_s"),
        F.max("gap_s").alias("max_s"),
    )
