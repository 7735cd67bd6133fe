"""Row-level transforms (SURVEY §2.2): map / flatMap / filter / keyBy / reduce.

The reference expresses these as opaque Scala lambdas / function classes on
``DataStream`` (Transformations.scala:15-56, DataStreams.scala:36-66). Our
engine's design rule (SURVEY §4): every transform is a *Column expression*,
never an opaque Python lambda — that is what makes predicate pushdown,
projection collapse, constant folding, and whole-stage codegen apply. The
map→filter→map chain the reference relies on Flink operator-chaining to fuse
(DataStreams.scala:44-51) fuses here into ONE codegen stage with zero
shuffles — verified in tests via explain().
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_essentials_spark.session import (
    _estimated_input_bytes,
    _local_bytes,
    small_input,
)


# --- map (T1/T2: Transformations.scala:18,21-24) ---------------------------

def _split_estimate(df: DataFrame) -> tuple[int | None, bool]:
    """(estimate, is_exact) for the plan's input splits WITHOUT forcing
    physical planning: ``df.inputFiles()`` only resolves the logical plan
    and lists leaf-scan files, where the exact ``df.rdd.getNumPartitions()``
    probe forces full analysis + physical planning + RDD conversion on the
    driver per call (~0.2-0.35 s) even when the query never runs.

    Every file is at least one split, so the file count is a sound lower
    bound; the single-local-file case (the one where file count badly
    under-counts a huge file's splits) is refined by stat-ing the file
    and replaying Spark's own ``FilePartition.maxSplitBytes`` formula:
    ``min(maxPartitionBytes, max(openCostInBytes, bytes/defaultParallelism))``
    — using maxPartitionBytes alone under-counts when openCostInBytes is
    tuned low, which would make the floor add a redundant exchange above
    an already-wide scan. Because that replay IS Spark's own packing
    arithmetic on the exact byte size, the single-local-file estimate is
    marked exact — gates that need "provably one split" can skip the
    expensive probe. Returns (None, False) for plans with no file leaves
    (in-memory ranges, streaming sources) — callers fall back to the
    exact probe there, where plans are tiny anyway."""
    try:
        files = df.inputFiles()
    except Exception:
        return None, False
    if not files:
        return None, False
    size = _local_bytes(files) if len(files) == 1 else None
    if size is None:
        return len(files), False
    import math

    def _bytes_conf(key: str, default: int) -> int:
        raw = str(
            df.sparkSession.conf.get(key, f"{default}b")
        ).lower().rstrip("b")
        try:
            return int(raw)
        except ValueError:
            return default

    max_bytes = _bytes_conf("spark.sql.files.maxPartitionBytes", 134217728)
    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", 4194304)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    split = min(
        max_bytes,
        max(open_cost, (size + open_cost) // max(1, parallelism)),
    )
    return max(1, math.ceil(size / split)), True


def _estimated_input_splits(df: DataFrame) -> int | None:
    """Lower-bound form of ``_split_estimate`` (see there)."""
    return _split_estimate(df)[0]


def floor_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    min_task_bytes: int = 1 << 20,
) -> DataFrame:
    """Round-robin repartition IF the plan is under-parallel AND the work
    is big enough to pay for the exchange — the mitigation for
    CPU-heavy-per-byte stages (per-token hashing, gram explosion, codec
    work) running over a source whose byte size gives it too few input
    splits: a single 50 MB parquet file is one split, so 32 cores watch
    one do millions of hashes, and one cheap exchange of the raw rows
    fixes it. No-op (zero plan change) in BOTH directions that matter:

    * input already has >= n partitions — always true at real scale,
      where a 100 TB scan has ~10⁶ splits;
    * input is so small (< ``min_task_bytes`` per resulting task, i.e.
      < ~32 MB total at the default 32-way floor) that even single-core
      CPU-heavy work is sub-second — there the exchange + n-task
      scheduling overhead exceeds what it saves (measured: the
      unconditional floor regressed winnow_candidates 0.58 s → 0.77 s on
      a 0.6 MB fixture). When byte size is unknowable (remote files) the
      floor stays on: at real remote scale est >= n makes it a no-op
      anyway, and an under-split remote input is exactly the case the
      floor exists for.
    """
    n = min_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    est = _estimated_input_splits(df)
    if est is None:
        # no file leaves — exact probe; such plans are small by nature
        est = df.rdd.getNumPartitions()
    if est >= n:
        return df
    size = _estimated_input_bytes(df)
    if size is not None and size < n * min_task_bytes:
        return df
    # est is a lower bound: a multi-file input with fewer files than n may
    # in fact have >= n splits, in which case this exchange is redundant
    # but harmless — the floor exists precisely for CPU-heavy-per-byte
    # stages where an extra round-robin of the raw rows is the cheap side.
    return df.repartition(n)


def map_columns(df: DataFrame, **exprs: Column) -> DataFrame:
    """1→1 transform ≙ ``DataStream.map``. Each kwarg is an output column."""
    return df.select(*[e.alias(name) for name, e in exprs.items()])


def fizzbuzz(df: DataFrame, n_col: str = "n") -> DataFrame:
    """The reference's worked map example (DataStreams.scala:24-33,43-49).

    Pattern-match map → CASE WHEN chain; stays fully inside codegen.
    Output schema = FizzBuzzResult(n, output) (DataStreams.scala:34).
    """
    n = F.col(n_col)
    output = (
        F.when((n % 15) == 0, F.lit("fizzbuzz"))
        .when((n % 3) == 0, F.lit("fizz"))
        .when((n % 5) == 0, F.lit("buzz"))
        .otherwise(F.lit(""))
    )
    return df.select(n.alias("n"), output.alias("output"))


def fizzbuzz_pipeline(df: DataFrame, n_col: str = "n") -> DataFrame:
    """Full reference pipeline map→filter→map (DataStreams.scala:43-51):
    keep only the fizzbuzz numbers, project back to n."""
    return (
        fizzbuzz(df, n_col)
        .filter(F.col("output") == "fizzbuzz")
        .select(F.col("n"))
    )


# --- flatMap (T3/T4: Transformations.scala:27,30-37) -----------------------

def flat_map_range(df: DataFrame, n_col: str = "n", out_col: str = "m") -> DataFrame:
    """``flatMap(n => Range(1, n))`` ≙ explode(sequence(1, n-1)).

    1→N expansion without leaving the JVM: ``sequence`` builds the array,
    ``explode`` is a codegen'd generator — no Python, no shuffle.

    Guard: Spark's ``sequence(a, b)`` with b < a generates a DESCENDING
    sequence (not empty, unlike Scala's Range) — so n ≤ 1 must map to an
    empty array explicitly to match ``Range.Long(1, n, 1)`` semantics.
    """
    n = F.col(n_col)
    seq = F.when(n > 1, F.sequence(F.lit(1).cast("long"), n - 1)).otherwise(
        F.array().cast("array<long>")
    )
    return df.select(n.alias(n_col), F.explode(seq).alias(out_col))


# --- filter (T5: DataStreams.scala:50, WindowFunctions.scala:218) ----------

def filter_event_type(df: DataFrame, event_type: str, col: str = "event_type") -> DataFrame:
    """``filter(_.isInstanceOf[X])`` analog over the flattened ADT."""
    return df.filter(F.col(col) == event_type)


# --- keyBy + reduce (T7-T9: Transformations.scala:48-56) -------------------

def key_by_reduce(df: DataFrame, key: Column | str, value: Column, agg_alias: str = "reduced", key_alias: str = "key") -> DataFrame:
    """``keyBy(k).reduce(f)`` final-answer form.

    Flink's streaming reduce emits a running value per input record; the
    batch-complete answer is the per-key fold, i.e. groupBy().agg(). The
    running-emission streaming form lives in streaming/stateful.py.

    ``keyBy`` by a computed expression (parity keyBy, Transformations.scala:48)
    works directly: pass ``(col("n") % 2 == 0)``. Physically this is one hash
    Exchange on the key — Catalyst plans partial aggregation BEFORE the
    shuffle (map-side combine), so at 100 TB the shuffle carries one row per
    key per map task, not the raw stream.
    """
    k = F.col(key) if isinstance(key, str) else key
    return df.groupBy(k.alias(key_alias)).agg(value.alias(agg_alias))


def running_reduce(df: DataFrame, key: Column | str, value: Column, order_by: Sequence[Column | str], agg_alias: str = "running") -> DataFrame:
    """Per-key *running* reduce — the batch analog of Flink's per-record
    emission (Transformations.scala:51 emits cumulative sums as records
    arrive). Expressed as a cumulative window aggregate over event order.

    Scale note: the window partitions by key, so state is bounded per key and
    distributed; no global sort.
    """
    from pyspark.sql.window import Window

    k = F.col(key) if isinstance(key, str) else key
    order_cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = (
        Window.partitionBy(k)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(agg_alias, value.over(w))


def funnel_steps(
    df,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps,
    within_s: int,
):
    """Generalized N-step ordered funnel: for each user, the earliest
    completion times of ``steps`` where every step happens strictly after
    the previous one and within ``within_s`` seconds of it, using
    GREEDY-FIRST matching — each step takes its earliest valid occurrence
    (the product-analytics convention: Amplitude/Mixpanel-style strict
    funnels). Note greedy-first is a semantics choice, not an optimal
    matcher: with per-step relative windows, a later step-i occurrence can
    sometimes rescue step i+1 that the earliest one times out (pinned by
    test); maximizing completions would need a per-user DP over
    occurrence chains. Output: one row per user who performed step 0,
    with ``t0..t{k-1}`` epoch seconds (null once the chain breaks) and
    ``completed_steps``.

    Plan shape: k−1 LEFT joins, but every side is pre-reduced to
    (user, ts) slivers of a single event-type and every join keys on the
    user column — one hash partitioning serves the whole chain (Spark
    reuses the exchange across same-key joins), so cost is k slim shuffles
    of per-type event subsets, never a k-way fact self-join.
    """
    t = F.col(ts_col).cast("long")
    base = df.select(F.col(user_col), t.alias("_t"), F.col(type_col))
    cur = (
        base.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min("_t").alias("t0"))
    )
    for i, s in enumerate(steps[1:], start=1):
        nxt = base.filter(F.col(type_col) == s).select(
            F.col(user_col), F.col("_t").alias("_cand")
        )
        prev = F.col(f"t{i - 1}")
        cond = (
            (cur[user_col] == nxt[user_col])
            & (F.col("_cand") > prev)
            & (F.col("_cand") <= prev + within_s)
        )
        keep = [cur[c] for c in cur.columns]
        cur = (
            cur.join(nxt, cond, "left")
            .groupBy(*keep)
            .agg(F.min("_cand").alias(f"t{i}"))
        )
    completed = None
    for i in range(len(steps)):
        c = F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
        completed = c if completed is None else completed + c
    return cur.withColumn("completed_steps", completed)


def transition_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """First-order Markov transition statistics over each key's event
    timeline: for every (current_type, next_type) adjacency, the global
    count and the row-conditional probability P(next | current).

    One keyed sort-shuffle for the lead() pass, then one hash aggregate on
    the (from, to) pair — the pair space is |types|², so the second
    exchange carries a bounded relation regardless of corpus size. The
    probability is ONE IEEE division of two exact counts (portable).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    pairs = (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions")
            / F.sum("n_transitions").over(wt)
        ).alias("p_next"),
    )


def input_is_single_split(df: DataFrame) -> bool:
    """True when ``df``'s input is provably ONE split — the adaptive
    gate shared by the distributed-ranking operators: a single-split
    input makes any multi-stage two-phase plan strictly worse than the
    plain single-task window it replaces.

    The file-count estimate is a LOWER bound — sound evidence for
    "parallel enough" (est >= 2 proves >= 2 splits) but NOT for "single
    split": one non-file: parquet object estimates 1 while the actual
    scan may split wide. The exception is a single LOCAL file, where the
    estimator replays Spark's own split-packing formula on the exact
    byte size — that estimate is exact, so the ~0.2-0.35 s
    getNumPartitions planning probe is skipped (it would re-derive the
    same number). Everything else confirms with the exact (but
    eager-planning) probe before claiming single-split."""
    est, exact = _split_estimate(df)
    if exact:
        return est <= 1
    if est is None or est <= 1:
        est = df.rdd.getNumPartitions()
    return est <= 1


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
    single_split: bool | None = None,
) -> DataFrame:
    """Distributed global row_number over a TOTAL order — the scalable
    replacement for ``row_number().over(Window.orderBy(...))``, which
    funnels every row through ONE task (Spark's empty-frame warning is a
    scale-stopper, not a nit).

    Two-phase ranking: range-partition on the order columns (sampled
    boundaries — Spark's own sort machinery), rank locally within each
    range, then add per-partition offsets computed from a tiny
    (num_partitions)-row count relation that is broadcast back. Ranks are
    IDENTICAL to the single-partition form whenever ``order_cols`` is a
    total order (ties could straddle sampled boundaries; with a total
    order no two rows compare equal, so the result is deterministic).

    Cost: one range exchange + one pid-hash exchange of the data, plus a
    broadcast of the offsets — every stage distributed.

    Single-partition inputs take the plain ``Window.orderBy`` path: with
    one input split the two-phase machinery (range sampling job + two
    exchanges + offsets broadcast) costs three extra jobs to produce the
    SAME single-task sort the simple form runs directly — the adaptive
    choice mirrors what AQE does for exchanges, keyed on actual input
    parallelism rather than a size guess.

    ``single_split`` overrides the probe when the caller KNOWS the
    answer (e.g. a pair-fanout op whose row count is computed at the
    driver — the file-size probe only sees the pre-fanout scan and
    under-estimates such inputs): False forces the two-phase path,
    True forces the plain window, None (default) probes.
    """
    if single_split if single_split is not None else input_is_single_split(df):
        return df.withColumn(
            out_col,
            F.row_number().over(Window.orderBy(*order_cols)).cast("long"),
        )
    p = df.repartitionByRange(
        num_partitions or df.sparkSession.sparkContext.defaultParallelism,
        *order_cols,
    ).withColumn("_pid", F.spark_partition_id())
    # the locally-ranked relation feeds BOTH the offsets aggregate and the
    # final join — localCheckpoint (lazy) materializes the range-partition
    # + window pass once and, unlike persist(), is released when the
    # result goes out of scope (no session-lifetime cache pin, and no
    # cache-manager plan substitution leaking into unrelated queries);
    # offsets derive from max(local rank) per pid, no separate count pass.
    # Downstream needs no particular partitioning (the offsets aggregate
    # is partial-agg'd and the join side is broadcast), so losing the
    # plan's partitioning info at the checkpoint boundary costs nothing.
    local = p.withColumn(
        "_lrn",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(*order_cols)
        ),
    ).localCheckpoint(eager=False)
    offsets = (
        local.groupBy("_pid")
        .agg(F.max("_lrn").alias("_cnt"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed running total of ``value_col`` over a TOTAL order —
    the prefix-sum sibling of :func:`global_row_number` (same two-phase
    shape, same adaptive single-split gate). The inclusive running total
    a greedy budget selector needs (`take documents in score order until
    the token budget is spent`) is a single-partition ``Window.orderBy``
    in the naive form — this version range-partitions on the order
    columns, cumulates locally, and adds per-partition value offsets
    from a (num_partitions)-row broadcast, so no stage ever funnels the
    data through one task.

    Deterministic whenever ``order_cols`` is a total order AND the
    value type has order-independent addition (integers / DECIMAL —
    NOT raw doubles, whose partial-sum grouping would differ between
    the one-task and two-phase plans).

    Size-adaptive (the `perplexity_buckets` precedent): when the plan's
    leaf-scan bytes prove the input small (`session.small_input` — the
    cumulated relation is never larger than its input), the plain
    single-partition window wins — the two-phase machinery's range
    sampling job + two exchanges + offsets broadcast are pure stage
    overhead at that size (measured 0.40 s vs 0.25 s at bench SF). A
    large or unknown input that is one split takes the window too.
    Otherwise the distributed path; both produce identical totals
    (total order + order-independent addition).
    """
    if small_input("global_prefix_sum", df) or input_is_single_split(df):
        return df.withColumn(
            out_col,
            F.sum(value_col).over(
                Window.orderBy(*order_cols).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    p = df.repartitionByRange(
        num_partitions or df.sparkSession.sparkContext.defaultParallelism,
        *order_cols,
    ).withColumn("_pid", F.spark_partition_id())
    local = p.withColumn(
        "_lcum",
        F.sum(value_col).over(
            Window.partitionBy("_pid")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).localCheckpoint(eager=False)
    # per-partition totals come from sum(value_col), NOT max(_lcum):
    # the two agree only when every value is non-negative — a negative
    # value mid-partition makes the local cumsum peak before the end,
    # and max() would silently shift every later partition's offset.
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(value_col).alias("_ptot"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_ptot").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_voff"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_voff") + F.col("_lcum"))
        .drop("_pid", "_lcum", "_voff")
    )


def markov_stationary(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    iterations: int = 12,
    scale: int = 10**6,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Stationary distribution of the first-order Markov chain over each
    key's event timeline → ``(event_type, pi_micro, pi)``: where user
    sessions SETTLE if the observed transition behavior keeps running —
    the long-run state mix that a raw event-type histogram (which mixes
    in entry-state bias) does not give you. Power iteration on
    :func:`transition_counts`'s matrix (Page et al. '99 is the same
    fixed point with teleport; this is the undamped chain).

    Exact-integer fixed point (the ``pagerank_fixedpoint`` contract):
    π₀ = scale div n uniformly; each step folds
    ``π'_j = Σ_i (π_i · c_ij) div c_i`` with truncating positive int64
    division — identical on both engines, so ``iterations`` unrolled
    CTE stages reproduce it bit-for-bit. States with NO outgoing
    transitions keep their own mass (the dangling convention). Each
    nonzero transition-matrix entry truncates < 1 ulp per round, so
    the total mass loss is bounded by
    ``(n − 1) + iterations·|nonzero entries|`` ulps of 1/scale
    (worst case iterations·n² + n) — the price of exact cross-engine
    replay. Overflow headroom: π ≤ 1e6, c ≤ rows → the per-term
    product stays ≪ 2^63 for corpora under ~9e12 transitions.

    Scale: ONE keyed lead() pass over the data; everything after is
    |types|²-sized (bounded by the event vocabulary, never the corpus),
    so the iteration loop costs |types|-row joins with
    per-round lineage truncation.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    t = (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "cf", F.sum("c").over(Window.partitionBy("from_type"))
        )
        .persist()
    )
    states = (
        t.select(F.col("from_type").alias("s"))
        .union(t.select(F.col("to_type").alias("s")))
        .distinct()
        .persist()
    )
    n = states.count()
    if n == 0:
        t.unpersist()
        states.unpersist()
        return states.select(
            F.col("s").alias("event_type"),
            F.lit(0).cast("long").alias("pi_micro"),
            F.lit(0.0).alias("pi"),
        )
    sources = t.select(F.col("from_type").alias("s")).distinct()
    dangling = states.join(sources, "s", "left_anti").select(
        "s", F.lit(True).alias("_dang")
    )
    pi = states.withColumn(
        "pi", F.lit(int(scale) // n).cast("long")
    )
    for _ in range(iterations):
        inflow = (
            pi.join(t, pi["s"] == t["from_type"])
            .select(
                F.col("to_type").alias("s"),
                F.expr("(pi * c) div cf").alias("_m"),
            )
            .groupBy("s")
            .agg(F.sum("_m").cast("long").alias("_in"))
        )
        pi = (
            pi.join(inflow, "s", "left")
            .join(F.broadcast(dangling), "s", "left")
            .select(
                "s",
                (
                    F.coalesce(F.col("_in"), F.lit(0))
                    + F.when(F.col("_dang"), F.col("pi")).otherwise(0)
                ).cast("long").alias("pi"),
            )
            .localCheckpoint(eager=True)
        )
    t.unpersist()
    states.unpersist()
    return pi.select(
        F.col("s").alias("event_type"),
        F.col("pi").alias("pi_micro"),
        (F.col("pi") / F.lit(float(scale))).alias("pi"),
    ).orderBy("event_type")
