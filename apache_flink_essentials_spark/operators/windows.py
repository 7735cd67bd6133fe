"""Windowing (SURVEY §2.4) — the reference's core competency.

Assigners (reference WindowFunctions.scala):
  * tumbling  ≙ TumblingEventTimeWindows.of(3s)            (:54-55, :112)
  * sliding   ≙ SlidingEventTimeWindows.of(3s, 1s)          (:147-158, :219)
  * session   ≙ EventTimeSessionWindows.withGap(1s)         (:169-177)
  * count     ≙ GlobalWindows + CountTrigger.of(10)         (:194-202)
  * processing-time tumbling (TimeBasedTransformations.scala:42) — same
    expression over an ingest-time column; see ``with_processing_time``.

Window-function styles WF1-WF7 (:58-142, :187-226) all reduce to "aggregate
the window contents with optional window metadata"; here the metadata is the
``window_start``/``window_end`` columns every assigner exposes. The
incremental AggregateFunction style (WF3, :87-103 — createAccumulator/add/
merge) is *exactly* Spark's partial→final HashAggregate split, which Catalyst
plans automatically for every agg below: at 100 TB the shuffle moves one
partial accumulator per (key, window) per map task, never raw rows.

All functions are batch/streaming-polymorphic: pass a streaming DataFrame
(with ``withWatermark`` applied — see streaming/watermark.py) and the same
expression runs incrementally under Structured Streaming.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_flink_essentials_spark.functions import sql_ident


def _cols(keys: Sequence[Column | str]) -> list[Column]:
    return [F.col(k) if isinstance(k, str) else k for k in keys]


def _finish(df: DataFrame, aggs: Sequence[Column], keys: Sequence[Column | str], epoch_bounds: bool) -> DataFrame:
    """Shared tail: group by (window [, keys]), aggregate, surface bounds.

    ``epoch_bounds=True`` projects window bounds as epoch-second BIGINTs —
    timezone-proof and byte-identical across engines (oracle parity).
    """
    grouped = df.groupBy(F.col("window"), *_cols(keys)).agg(*aggs)
    if epoch_bounds:
        bounds = [
            F.col("window.start").cast("long").alias("window_start"),
            F.col("window.end").cast("long").alias("window_end"),
        ]
    else:
        bounds = [
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
        ]
    others = [c for c in grouped.columns if c != "window"]
    return grouped.select(*bounds, *[F.col(c) for c in others])


def tumbling(
    df: DataFrame,
    ts_col: str,
    size: str,
    aggs: Sequence[Column],
    keys: Sequence[Column | str] = (),
    epoch_bounds: bool = True,
) -> DataFrame:
    """Tumbling event-time window (W1).

    Non-keyed ``windowAll`` (WindowFunctions.scala:54-55) = ``keys=()``:
    unlike Flink's windowAll (single-subtask bottleneck, noted SURVEY §3.2),
    Spark still computes partial aggregates on every partition before the
    single-window-key exchange — the non-keyed form scales.
    """
    return _finish(df.withColumn("window", F.window(F.col(ts_col), size)), aggs, keys, epoch_bounds)


def sliding(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    aggs: Sequence[Column],
    keys: Sequence[Column | str] = (),
    epoch_bounds: bool = True,
) -> DataFrame:
    """Sliding event-time window (W2, WindowFunctions.scala:147-158).

    Spark's window() assigner replicates each row into size/slide windows
    before the aggregation — same expansion Flink performs, but vectorized
    and combined map-side."""
    return _finish(df.withColumn("window", F.window(F.col(ts_col), size, slide)), aggs, keys, epoch_bounds)


def sliding_paned(
    df: DataFrame,
    ts_col: str,
    size_seconds: int,
    slide_seconds: int,
    measures: dict[str, tuple[str, Column | None]],
    keys: Sequence[Column | str] = (),
) -> DataFrame:
    """Two-level (pane-based) sliding window for ALGEBRAIC aggregates —
    the scale path for large size/slide ratios.

    ``sliding()`` replicates every ROW into size/slide windows before
    aggregating; this variant aggregates rows once into slide-sized PANES,
    then replicates only the panes (one row each) and merges. At 100 TB with
    k = size/slide overlap the shuffled volume drops from k·rows to
    rows + k·panes. Identical results for decomposable aggs (count/sum/
    min/max — avg as sum/count); arbitrary aggs need ``sliding()``.

    ``measures``: out_name → (op, column) with op ∈ {count, sum, min, max};
    column may be a filtered expression (e.g. when(cond, 1)).
    Output matches ``sliding()``'s shape: window_start/window_end epochs +
    keys + measures.
    """
    assert size_seconds % slide_seconds == 0, "size must be a multiple of slide"
    assert all(isinstance(k_, str) for k_ in keys), "paned variant takes key names"
    k = size_seconds // slide_seconds
    key_cols = _cols(keys)
    pane = (F.floor(F.col(ts_col).cast("long") / slide_seconds) * slide_seconds).alias(
        "pane_start"
    )
    pane_aggs, merges = [], []
    for name, (op, col) in measures.items():
        c = F.lit(1) if col is None else col
        if op == "count":
            pane_aggs.append(F.count(c).alias(f"_p_{name}"))
            merges.append(F.sum(f"_p_{name}").alias(name))
        elif op == "sum":
            pane_aggs.append(F.sum(c).alias(f"_p_{name}"))
            merges.append(F.sum(f"_p_{name}").alias(name))
        elif op == "min":
            pane_aggs.append(F.min(c).alias(f"_p_{name}"))
            merges.append(F.min(f"_p_{name}").alias(name))
        elif op == "max":
            pane_aggs.append(F.max(c).alias(f"_p_{name}"))
            merges.append(F.max(f"_p_{name}").alias(name))
        else:
            raise ValueError(f"non-decomposable op {op!r}; use sliding()")
    panes = df.groupBy(pane, *key_cols).agg(*pane_aggs)
    # each pane [p, p+slide) belongs to windows starting at p - i*slide
    exploded = panes.select(
        F.explode(
            F.array(*[F.col("pane_start") - i * slide_seconds for i in range(k)])
        ).alias("window_start"),
        *[c for c in panes.columns if c != "pane_start"],
    )
    out = exploded.groupBy("window_start", *[F.col(k_) for k_ in keys]).agg(*merges)
    return out.select(
        F.col("window_start"),
        (F.col("window_start") + size_seconds).alias("window_end"),
        *[c for c in out.columns if c != "window_start"],
    )


def sliding_count_distinct(
    df: DataFrame,
    ts_col: str,
    col: str,
    size_seconds: int,
    slide_seconds: int,
    exact: bool = True,
    alias: str = "n_distinct",
) -> DataFrame:
    """Sliding-window COUNT DISTINCT with an explicit scale switch.

    ``exact=True``: every row replicates into size/slide windows before the
    distinct aggregation — correct, oracle-checkable, but the shuffle
    carries k·rows of (window, value) and COUNT DISTINCT on a skewed value
    column (user ids) is the known 100 TB chokepoint of this shape.

    ``exact=False``: the HLL pane path (same two-level structure as
    `sliding_paned`, which plain distinct cannot use because it is not
    algebraic — HLL sketches ARE mergeable): rows aggregate ONCE into one
    HLL sketch per slide-sized pane (hash-agg with map-side partials), only
    the k·panes sketch rows replicate, and `hll_union_agg` merges per
    window. Shuffled volume drops from k·rows to rows + k·panes·(sketch
    bytes); default sketch precision (lgConfigK=12, ~2 KB, ~1.6% rel.
    error) — the standard accuracy trade every 100 TB WAU/MAU rollup makes.

    Output: (window_start, window_end, <alias>) epoch-second bounds,
    matching `sliding()`'s epoch_bounds shape.
    """
    assert size_seconds % slide_seconds == 0, "size must be a multiple of slide"
    k = size_seconds // slide_seconds
    if exact:
        return sliding(
            df,
            ts_col,
            f"{size_seconds} seconds",
            f"{slide_seconds} seconds",
            [F.countDistinct(col).alias(alias)],
        )
    pane = (
        F.floor(F.col(ts_col).cast("long") / slide_seconds) * slide_seconds
    ).alias("pane_start")
    panes = df.groupBy(pane).agg(F.hll_sketch_agg(col).alias("_sk"))
    exploded = panes.select(
        F.explode(
            F.array(*[F.col("pane_start") - i * slide_seconds for i in range(k)])
        ).alias("window_start"),
        "_sk",
    )
    return (
        exploded.groupBy("window_start")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias(alias))
        .select(
            "window_start",
            (F.col("window_start") + size_seconds).alias("window_end"),
            alias,
        )
    )


def session(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: Sequence[Column],
    keys: Sequence[Column | str] = (),
    epoch_bounds: bool = True,
) -> DataFrame:
    """Gap-based session window (W3, WindowFunctions.scala:169-177), via the
    native ``session_window`` (merging-window state under streaming).

    Note: ``window_end`` follows Spark/Flink session semantics = last event
    time + gap; ``window_start`` = first event time.
    """
    return _finish(df.withColumn("window", F.session_window(F.col(ts_col), gap)), aggs, keys, epoch_bounds)


def count_window(
    df: DataFrame,
    size: int,
    order_by: Sequence[Column | str],
    aggs: Sequence[Column],
    keys: Sequence[Column | str] = (),
    bucket_alias: str = "window_id",
) -> DataFrame:
    """Count-based window (W4): GlobalWindows + CountTrigger.of(size)
    (WindowFunctions.scala:194-202) — fire per `size` elements.

    Spark has no count-window primitive; batch form assigns
    ``window_id = floor(arrival_rank / size)`` via row_number over the
    arrival order, then aggregates per bucket.

    Scale note: a GLOBAL (non-keyed) count window needs a total order — an
    inherently sequential construct (Flink runs it at parallelism 1 too).
    Keyed count windows partition the rank by key and scale normally. When a
    dense monotone id already exists (e.g. events.event_id), prefer
    ``count_window_by_id`` which skips the sort entirely.
    The streaming form (true per-arrival firing) is
    streaming/stateful.py::count_window_stream.
    """
    order_cols = _cols(order_by)
    key_cols = _cols(keys)
    w = Window.orderBy(*order_cols) if not key_cols else Window.partitionBy(*key_cols).orderBy(*order_cols)
    bucketed = df.withColumn(
        bucket_alias,
        F.floor((F.row_number().over(w) - 1) / size),
    )
    return bucketed.groupBy(*key_cols, F.col(bucket_alias)).agg(*aggs)


def count_window_by_id(
    df: DataFrame,
    size: int,
    id_col: str,
    aggs: Sequence[Column],
    keys: Sequence[Column | str] = (),
    bucket_alias: str = "window_id",
) -> DataFrame:
    """Count window over a dense monotone id — the scale path: no global
    sort, bucket id is a pure projection, aggregation shuffles once."""
    bucketed = df.withColumn(bucket_alias, F.floor(F.col(id_col) / size))
    return bucketed.groupBy(*_cols(keys), F.col(bucket_alias)).agg(*aggs)


def top_k_windows(windowed: DataFrame, by: str, k: int = 1, tiebreak: Sequence[str] = ("window_start",)) -> DataFrame:
    """WF7 (WindowFunctions.scala:211-226): 'which window had the most
    registrations'. The reference collects to the driver and runs
    ``maxBy`` locally (:222-223); we fold it into the plan: orderBy + limit
    = TakeOrderedAndProject, a per-partition top-k + driver merge of k rows —
    no full sort, no full collect, survives 100×.

    Deterministic under ties via ``tiebreak`` columns.
    """
    order = [F.desc(by)] + [F.asc(c) for c in tiebreak]
    return windowed.orderBy(*order).limit(k)


def with_processing_time(df: DataFrame, col_name: str = "proc_time") -> DataFrame:
    """Processing-time attribute (W5, TimeBasedTransformations.scala:42):
    stamp arrival wall-clock. Results are non-deterministic across runs by
    construction — the reference documents the same caveat
    (TimeBasedTransformations.scala:38-40); excluded from oracle checks."""
    return df.withColumn(col_name, F.current_timestamp())


def session_paths(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    label_col: str,
    gap: str = "30 minutes",
    top_n: int = 20,
    sep: str = ">",
) -> DataFrame:
    """Top-N event-label paths over gap-based sessions: sessionize per key,
    concatenate each session's labels in (epoch-second, tiebreak) order into
    a path string, and rank paths by how many sessions follow them — the
    click-path / funnel-mining query over the reference's session windows
    (`/root/reference/src/main/scala/essentialsstreams/WindowFunctions.scala`
    EventTimeSessionWindows).

    Requires an ``event_id`` column as the within-second tiebreaker so the
    concatenation order is total (replay-stable, engine-portable).

    Scale: one shuffle on the key for session assembly (session_window is a
    native merging agg); the path-count agg's input is one row per session
    and its output one row per distinct path; top-N is TakeOrdered (no
    global sort materialization).
    """
    sess = df.groupBy(
        F.col(key_col), F.session_window(F.col(ts_col), gap)
    ).agg(
        F.array_join(
            F.expr(f"transform(array_sort(collect_list(struct(CAST({sql_ident(ts_col)} AS BIGINT) AS ts_s, "
                   f"event_id, {sql_ident(label_col)} AS label))), x -> x.label)"),
            sep,
        ).alias("path")
    )
    return (
        sess.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(top_n)
    )


def session_capped(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    id_col: str,
    max_duration_seconds: int | None = None,
    max_events: int | None = None,
) -> DataFrame:
    """Gap-based sessions with a HARD CAP — by wall-clock span and/or event
    count. Plain session windows (W3) merge unboundedly: a bot hammering a
    key every second yields one infinite session whose state never closes.
    Real analytics pipelines cap sessions ("30 min gap, 4 h max"); Flink
    expresses this with dynamic gaps/custom triggers, Spark has no native
    form — this composes it from two window passes over ONE key
    partitioning:

      pass 1: gap rule — a session break where ts − lag(ts) > gap; running
              sum of breaks numbers the gap-sessions;
      pass 2: within each gap-session, the cap splits by offset from the
              session's first event: floor(Δt / max_duration) and/or
              floor(event_rank / max_events) — whichever is finer splits
              more; both are pure arithmetic, no extra shuffle.

    Both passes share the hash partitioning on the key, so the operator
    costs ONE exchange at any scale; per-key state is the sort of that
    key's rows (Spark spills sorts; no unbounded agg state). Ordering is
    total via (ts, id) — replay-stable and engine-portable. Output: one row
    per capped session with bounds (epoch seconds) and event count.
    """
    ts_s = F.col(ts_col).cast("long")
    base = df.select(
        F.col(key_col), ts_s.alias("_ts_s"), F.col(id_col).alias("_id")
    )
    w = Window.partitionBy(key_col).orderBy("_ts_s", "_id")
    brk = F.when(
        F.col("_ts_s") - F.lag("_ts_s").over(w) > gap_seconds, 1
    ).otherwise(0)
    sess = base.withColumn("_sess", F.sum(brk).over(w))
    wsess = Window.partitionBy(key_col, "_sess").orderBy("_ts_s", "_id")
    # each cap yields its own monotone split index; grouping by the PAIR is
    # their common refinement (max/greatest would merge across one cap's
    # boundary whenever the other is already ahead)
    sub_d: Column = F.lit(0).cast("long")
    sub_c: Column = F.lit(0).cast("long")
    if max_duration_seconds is not None:
        # first_value over the ORDERED (key, _sess | ts, id) spec is the
        # session min (ascending ts ⇒ first row's ts), and sharing
        # wsess's spec lets it ride the row_number Window operator — the
        # plain min() over an unordered (key, _sess) spec planned its
        # own Window pass + its own sort (4 ops / 3 sorts -> 3 / 2)
        start = F.first("_ts_s").over(wsess)
        sub_d = F.floor((F.col("_ts_s") - start) / max_duration_seconds)
    if max_events is not None:
        sub_c = F.floor((F.row_number().over(wsess) - 1) / max_events)
    return (
        sess.withColumn("_sub_d", sub_d)
        .withColumn("_sub_c", sub_c)
        .groupBy(key_col, "_sess", "_sub_d", "_sub_c")
        .agg(
            F.min("_ts_s").alias("session_start"),
            F.max("_ts_s").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(key_col, "session_start", "session_end", "n_events")
    )
