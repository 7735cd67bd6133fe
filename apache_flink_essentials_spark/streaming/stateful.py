"""Arbitrary stateful streaming operators via ``applyInPandasWithState``
(SURVEY §2.4 W4/TR1/TR2, §2.3 J4 — the four constructs with no declarative
Spark equivalent).

Flink analogs:
  * ``count_window_stream``   ≙ GlobalWindows + PurgingTrigger(CountTrigger(n))
                                (Triggers.scala:31-40, WindowFunctions.scala:194-202)
  * ``count_trigger_stream``  ≙ CountTrigger without purge — re-fires the
                                growing window every n elements (Triggers.scala:19-28)
  * ``connect_ratio_stream``  ≙ connect + CoProcessFunction running ratio
                                (MultipleStreams.scala:106-145)

Not in that list: ``timeout_session_stream`` (EventTimeSessionWindows,
WindowFunctions.scala:169-177) has a declarative equivalent, so it runs on
Spark's native ``session_window`` state store with no Python worker.

State model: exactly Flink's keyed state — Spark partitions the stream by
the grouping key and gives each key a GroupState cell, persisted in the
state store across micro-batches. Scale: state is per-key and distributed;
a constant key (the connect analog / global count windows) is the same
parallelism-1 bottleneck the reference codifies with setParallelism(1)
(MultipleStreams.scala:115-116).

Ordering caveat (documented deviation): within a micro-batch, rows arrive in
source order per partition; across keys Spark gives no total order — same as
Flink's per-key (not global) ordering guarantee.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from apache_flink_essentials_spark.functions import sql_ident
from apache_flink_essentials_spark.operators.vector import _dot_sql

COUNT_WINDOW_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("window_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("sum_value", T.DoubleType(), True),
    ]
)

_COUNT_WINDOW_STATE = T.StructType(
    [
        T.StructField("seen", T.LongType(), False),
        T.StructField("windows_fired", T.LongType(), False),
        T.StructField("partial_sum", T.DoubleType(), False),
    ]
)


def count_window_stream(
    df: DataFrame,
    key_col: str,
    size: int,
    value_col: str | None = None,
) -> DataFrame:
    """Keyed count windows: fire (and purge) once per ``size`` elements.

    Emits one row per completed window: (key, window_id, n_events=size,
    sum_value of value_col within the window). Elements of an incomplete
    window stay in state (never emitted) — Flink PurgingTrigger semantics.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            seen, fired, partial = state.get
        else:
            seen, fired, partial = 0, 0, 0.0
        out = []
        for pdf in pdfs:
            vals = (
                pdf[value_col].astype(float).tolist()
                if value_col is not None
                else [0.0] * len(pdf)
            )
            for v in vals:
                seen += 1
                partial += v
                if seen == size:
                    out.append((str(key[0]), fired, size, round(partial, 6)))
                    fired += 1
                    seen, partial = 0, 0.0
        state.update((seen, fired, partial))
        yield pd.DataFrame(out, columns=["key", "window_id", "n_events", "sum_value"])

    return (
        df.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=COUNT_WINDOW_OUTPUT,
            stateStructType=_COUNT_WINDOW_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def count_trigger_stream(
    df: DataFrame,
    key_col: str,
    every: int,
) -> DataFrame:
    """CountTrigger WITHOUT purge (TR1): every ``every`` elements per key,
    re-emit the still-growing total count — overlapping, growing aggregates
    (the reference's 'window fires repeatedly as it grows')."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        out = []
        for pdf in pdfs:
            for _ in range(len(pdf)):
                total += 1
                if total % every == 0:
                    out.append((str(key[0]), total))
        state.update((total,))
        yield pd.DataFrame(out, columns=["key", "running_count"])

    return (
        df.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=T.StructType(
                [
                    T.StructField("key", T.StringType(), True),
                    T.StructField("running_count", T.LongType(), False),
                ]
            ),
            stateStructType=T.StructType(
                [T.StructField("total", T.LongType(), False)]
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def connect_ratio_stream(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """connect + CoProcessFunction (J4): both streams through ONE stateful
    operator keeping running per-side counts, emitting the ratio per input
    row. Normalization: common (ts, side) schema + constant key — the
    explicit parallelism-1 analog of MultipleStreams.scala:115-116."""
    l = left.select(F.col(left_ts).alias("ts"), F.lit("left").alias("side"))
    r = right.select(F.col(right_ts).alias("ts"), F.lit("right").alias("side"))
    both = l.unionByName(r).withColumn("k", F.lit(1))

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        lc, rc = state.get if state.exists else (0, 0)
        out = []
        for pdf in pdfs:
            for side in pdf["side"]:
                if side == "left":
                    lc += 1
                else:
                    rc += 1
                # left_pct = the reference's exact emitted value
                # (MultipleStreams.scala:129)
                out.append((lc, rc, (lc / rc) if rc else None, lc * 100.0 / (lc + rc)))
        state.update((lc, rc))
        yield pd.DataFrame(
            out, columns=["left_count", "right_count", "ratio", "left_pct"]
        )

    return both.groupBy("k").applyInPandasWithState(
        fn,
        outputStructType=T.StructType(
            [
                T.StructField("left_count", T.LongType(), False),
                T.StructField("right_count", T.LongType(), False),
                T.StructField("ratio", T.DoubleType(), True),
                T.StructField("left_pct", T.DoubleType(), False),
            ]
        ),
        stateStructType=T.StructType(
            [
                T.StructField("left_count", T.LongType(), False),
                T.StructField("right_count", T.LongType(), False),
            ]
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CHANGELOG_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("seq1", T.LongType(), True),
        T.StructField("seq2", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("is_deleted", T.BooleanType(), False),
    ]
)

_CHANGELOG_STATE = T.StructType(
    [
        T.StructField("seq1", T.LongType(), True),
        T.StructField("seq2", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("is_deleted", T.BooleanType(), False),
    ]
)


def changelog_stream(
    df: DataFrame,
    key_col: str,
    seq_cols: tuple[str, str],
    value_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Streaming twin of ``cdc.apply_changelog``: maintain the latest
    surviving row per key across micro-batches, emitting the key's new state
    (or a tombstone, ``is_deleted=True``) whenever a batch changes it —
    Flink's upsert/retract stream materializing a dynamic table.

    Out-of-order robustness: a change only applies if its (seq1, seq2)
    exceeds the stored sequence, so late records never regress state — the
    same "latest by total sequence order" contract as the batch operator.
    State is one fixed-width row per key, distributed by key partitioning
    (unlike the connect analog there is no parallelism-1 bottleneck).
    """
    s1c, s2c = seq_cols

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            s1, s2, val, dead = state.get
        else:
            s1 = s2 = val = None
            dead = False
        changed = False
        for pdf in pdfs:
            for r1, r2, v, op in zip(
                pdf[s1c], pdf[s2c], pdf[value_col], pdf[op_col]
            ):
                r1, r2 = int(r1), int(r2)
                if s1 is None or (r1, r2) > (s1, s2):
                    s1, s2 = r1, r2
                    dead = op == delete_op
                    val = None if dead else float(v)
                    changed = True
        state.update((s1, s2, val, dead))
        if changed:
            yield pd.DataFrame(
                [(str(key[0]), s1, s2, val, dead)],
                columns=["key", "seq1", "seq2", "value", "is_deleted"],
            )
        else:
            yield pd.DataFrame(
                [], columns=["key", "seq1", "seq2", "value", "is_deleted"]
            )

    return (
        df.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=CHANGELOG_OUTPUT,
            stateStructType=_CHANGELOG_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CAPPED_SESSION_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("session_start", T.LongType(), False),
        T.StructField("session_end", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)

_CAPPED_SESSION_STATE = T.StructType(
    [
        T.StructField("sess_start", T.LongType(), False),
        T.StructField("last_ts", T.LongType(), False),
        T.StructField("n_in_sess", T.LongType(), False),
        T.StructField("sub_d", T.LongType(), False),
        T.StructField("sub_c", T.LongType(), False),
        T.StructField("win_start", T.LongType(), False),
        T.StructField("win_last", T.LongType(), False),
        T.StructField("win_n", T.LongType(), False),
    ]
)


def capped_session_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    max_duration_seconds: int | None = None,
    max_events: int | None = None,
) -> DataFrame:
    """Streaming twin of ``windows.session_capped``: per-key gap sessions
    with hard duration/event-count caps, emitted as each capped sub-session
    CLOSES (a gap break or a cap boundary arrives). The still-open session
    stays in state — one fixed-width row per key, the bounded-state
    guarantee plain streaming session windows can't give on hot keys.

    Split semantics match the batch operator exactly (same gap rule, same
    pair-refinement of the duration/count split indexes), so
    stream-closed sessions ≡ batch rows minus each key's final open
    session — asserted in tests.

    Ordering: rows are sorted by event time within each micro-batch;
    ACROSS batches arrival must be per-key time-ordered (same caveat as
    the other stateful ops; a watermark-buffered pre-sort is the general
    fix and costs one more stateful stage).
    """
    ts_field = ts_col

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (sess_start, last_ts, n_in_sess, sub_d, sub_c,
             win_start, win_last, win_n) = state.get
            has = True
        else:
            has = False
            sess_start = last_ts = win_start = win_last = 0
            n_in_sess = sub_d = sub_c = win_n = 0
        out = []
        # gather ALL Arrow chunks before sorting: a large key's micro-batch
        # arrives as multiple pdfs, and per-chunk sorting would let a later
        # chunk deliver earlier timestamps (wrong splits vs the batch op)
        all_ts: list[int] = []
        for pdf in pdfs:
            col = pdf[ts_field]
            if col.dtype.kind == "M":  # datetime64 → epoch seconds
                col = col.astype("int64") // 1_000_000_000
            all_ts.extend(col.astype("int64").tolist())
        for ts in sorted(all_ts):
            if not has:
                sess_start, last_ts = ts, ts
                n_in_sess, sub_d, sub_c = 0, 0, 0
                win_start, win_last, win_n = ts, ts, 0
                has = True
            elif ts - last_ts > gap_seconds:
                out.append((str(key[0]), win_start, win_last, win_n))
                sess_start = ts
                n_in_sess, sub_d, sub_c = 0, 0, 0
                win_start, win_last, win_n = ts, ts, 0
            else:
                nd = (
                    (ts - sess_start) // max_duration_seconds
                    if max_duration_seconds is not None
                    else 0
                )
                nc = (
                    n_in_sess // max_events
                    if max_events is not None
                    else 0
                )
                if (nd, nc) != (sub_d, sub_c):
                    out.append((str(key[0]), win_start, win_last, win_n))
                    sub_d, sub_c = nd, nc
                    win_start, win_last, win_n = ts, ts, 0
            win_last = ts
            win_n += 1
            n_in_sess += 1
            last_ts = ts
        state.update(
            (sess_start, last_ts, n_in_sess, sub_d, sub_c,
             win_start, win_last, win_n)
        )
        yield pd.DataFrame(
            out, columns=["key", "session_start", "session_end", "n_events"]
        )

    return (
        df.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=CAPPED_SESSION_OUTPUT,
            stateStructType=_CAPPED_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def reorder_buffer_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    delay_seconds: int,
    payload_col: str,
) -> DataFrame:
    """Per-key event-time reorder buffer: rows are held in state and
    released IN TIMESTAMP ORDER once the key's high-water mark (max ts
    seen − ``delay_seconds``) passes them — the general pre-stage that
    makes order-sensitive stateful operators (capped sessions, changelogs,
    pattern matches) correct on out-of-order streams, at the cost of
    ``delay_seconds`` of latency and per-key buffer state.

    Semantics mirror bounded-out-of-orderness watermarks but per key: a
    row later than its key's watermark at arrival is still fine (state is
    keyed), a row older than what was already RELEASED is dropped as late
    (counted nowhere — same drop rule as Spark/Flink windowed aggs).

    State: the pending (ts, payload) list per key plus the released
    high-water mark — bounded by the key's arrival rate × delay. Emits
    (key, ts, payload) rows in per-key ts order.

    Composition note (verified): Spark rejects TWO applyInPandasWithState
    operators in one streaming query ("Multiple applyInPandasWithStates
    are not supported"), so reorder → capped-sessions runs as two queries
    bridged by a durable sink (files/Kafka + checkpoint) — the standard
    multi-stage stateful topology; Flink expresses the same as two chained
    keyed operators inside one job.
    """
    ts_field, payload_field = ts_col, payload_col

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            pend_ts, pend_payload, released = state.get
            pending = list(zip(pend_ts, pend_payload))
        else:
            pending, released = [], -(2**62)
        max_ts = max((t for t, _ in pending), default=-(2**62))
        for pdf in pdfs:
            col = pdf[ts_field]
            if col.dtype.kind == "M":
                col = col.astype("int64") // 1_000_000_000
            for ts, payload in zip(
                col.astype("int64").tolist(), pdf[payload_field].tolist()
            ):
                if ts < released:
                    continue  # late beyond the buffer — dropped
                # ts == released is accepted: emitting it keeps per-key
                # output nondecreasing (same-second events straddling a
                # micro-batch boundary are NOT data loss)
                pending.append((ts, payload))
                max_ts = max(max_ts, ts)
        horizon = max_ts - delay_seconds
        # Sort on timestamp ONLY: a (ts, payload) tuple sort falls back to
        # comparing payloads on ties, and None vs str raises TypeError
        # inside the state function. list.sort is stable, so tied rows keep
        # arrival order.
        pending.sort(key=lambda tp: tp[0])
        out = [(str(key[0]), t, p) for t, p in pending if t <= horizon]
        keep = [(t, p) for t, p in pending if t > horizon]
        if out:
            released = max(released, out[-1][1])
        state.update(
            ([t for t, _ in keep], [p for _, p in keep], released)
        )
        yield pd.DataFrame(out, columns=[key_col, ts_field, payload_field])

    return (
        df.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=T.StructType(
                [
                    T.StructField(key_col, T.StringType(), True),
                    T.StructField(ts_field, T.LongType(), False),
                    T.StructField(payload_field, T.StringType(), True),
                ]
            ),
            stateStructType=T.StructType(
                [
                    T.StructField("pend_ts", T.ArrayType(T.LongType()), True),
                    T.StructField(
                        "pend_payload", T.ArrayType(T.StringType()), True
                    ),
                    T.StructField("released", T.LongType(), False),
                ]
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def strict_sequence_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    pattern: list[str],
    within_seconds: int | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming twin of `patterns.match_strict_sequence` (Flink CEP
    ``next()`` chain): per key, emit a match whenever the last L event
    types equal ``pattern`` on consecutive events, optionally spanning
    ≤ ``within_seconds``.

    State per key: the last L-1 (ts, type) pairs — constant size, O(L)
    bytes, GC-free. Rows are processed in per-batch (ts, *order_cols)
    order — pass the SAME tiebreakers as the batch operator (e.g.
    ``["event_id"]``), or same-second events tie-break by arrival and can
    diverge from batch; ACROSS batches the operator assumes per-key
    in-order delivery (compose with `reorder_buffer_stream` ahead of it
    for out-of-order streams — same two-query topology as reorder →
    sessions).

    Emits (key, start_ts, end_ts, span_seconds) epoch-second rows,
    matching the batch operator's output after `.cast("long")`.
    """
    L = len(pattern)
    if L < 1:
        raise ValueError("pattern must have at least one step")

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tail_ts, tail_types = state.get
            tail = list(zip(tail_ts, tail_types))
        else:
            tail = []
        rows = []
        for pdf in pdfs:
            col = pdf[ts_col]
            if col.dtype.kind == "M":
                col = col.astype("int64") // 1_000_000_000
            tiebreaks = (
                zip(*[pdf[c].tolist() for c in order_cols])
                if order_cols
                else ((),) * len(pdf)
            )
            rows.extend(zip(col.astype("int64").tolist(),
                            tiebreaks,
                            pdf[type_col].tolist()))
        rows.sort(key=lambda tp: (tp[0], tp[1]))
        out = []
        for ts, _tb, typ in rows:
            tail.append((ts, typ))
            if len(tail) > L:
                tail = tail[-L:]
            if len(tail) == L and [t for _, t in tail] == pattern:
                span = tail[-1][0] - tail[0][0]
                if within_seconds is None or span <= within_seconds:
                    out.append((str(key[0]), tail[0][0], tail[-1][0], span))
        tail = tail[-(L - 1):] if L > 1 else []
        state.update(([t for t, _ in tail], [ty for _, ty in tail]))
        yield pd.DataFrame(
            out, columns=[key_col, "start_ts", "end_ts", "span_seconds"]
        )

    return (
        df.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=T.StructType(
                [
                    T.StructField(key_col, T.StringType(), True),
                    T.StructField("start_ts", T.LongType(), False),
                    T.StructField("end_ts", T.LongType(), False),
                    T.StructField("span_seconds", T.LongType(), False),
                ]
            ),
            stateStructType=T.StructType(
                [
                    T.StructField("tail_ts", T.ArrayType(T.LongType()), True),
                    T.StructField(
                        "tail_types", T.ArrayType(T.StringType()), True
                    ),
                ]
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ewma_anomaly_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    z: float = 3.0,
) -> DataFrame:
    """Streaming twin of `timeseries.ewma_anomaly`: per-key EWMA
    control-chart state (3 floats — constant per key) advanced by the SAME
    `_ewma_steps` recurrence, so replaying a batch through this operator
    yields bit-identical ewma/anomaly values (asserted in tests). Assumes
    per-key in-order delivery across batches (compose with
    `reorder_buffer_stream` otherwise); within a batch rows sort by
    (ts, value) — the same tuple order the batch op uses — but equal-ts
    rows SPLIT ACROSS micro-batches process in arrival order, one more
    facet of the in-order-delivery assumption."""
    from apache_flink_essentials_spark.operators.timeseries import (
        _ewma_steps,
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ewma, ewvar, n = state.get
        else:
            ewma, ewvar, n = 0.0, 0.0, 0
        rows = []
        for pdf in pdfs:
            col = pdf[ts_col]
            if col.dtype.kind == "M":
                col = col.astype("int64") // 1_000_000_000
            rows.extend(zip(col.astype("int64").tolist(),
                            pdf[value_col].astype(float).tolist()))
        rows.sort()
        steps, (ewma, ewvar, n) = _ewma_steps(
            rows, alpha, z, state=(ewma, ewvar, n)
        )
        state.update((ewma, ewvar, n))
        yield pd.DataFrame(
            [(int(key[0]), ts, x, m, a) for ts, x, m, a in steps],
            columns=[key_col, "ts_s", "value", "ewma", "is_anomaly"],
        )

    return (
        df.groupBy(F.col(key_col).cast("long").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=T.StructType(
                [
                    T.StructField(key_col, T.LongType(), True),
                    T.StructField("ts_s", T.LongType(), False),
                    T.StructField("value", T.DoubleType(), False),
                    T.StructField("ewma", T.DoubleType(), False),
                    T.StructField("is_anomaly", T.BooleanType(), False),
                ]
            ),
            stateStructType=T.StructType(
                [
                    T.StructField("ewma", T.DoubleType(), False),
                    T.StructField("ewvar", T.DoubleType(), False),
                    T.StructField("n", T.LongType(), False),
                ]
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def timeout_session_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Per-key gap sessions closed by event time, not by the key's next
    event — the Flink ``EventTimeSessionWindows`` / ``onTimer`` analog
    (WindowFunctions.scala:169-177). Runs on Spark's native
    ``session_window`` state store: a session is emitted (append mode)
    once the watermark passes its end, so a key that goes quiet forever
    still closes, and no Python worker runs in any micro-batch.

    Session rule: ``ts_col`` is floored to whole seconds, and a new
    session starts when the floored gap to the key's previous event is
    ``> gap_seconds``. A native session ends ``gap`` after its last event,
    and Spark merges an event landing exactly on that end into it (a
    closed bound), so ``session_window(gap_seconds)`` over the floored
    time is exactly that rule; ``gap_seconds + 1`` would merge a floored
    gap of ``gap + 1``. The watermark (``watermark_delay``) sits on the
    floored time. A late event within the watermark is segmented by the
    same rule, so one more than ``gap`` before an open session becomes
    its own session.

    Emits (key, session_start, session_end, n_events) for closed
    sessions: the key cast to string (a NULL key stays NULL) and the
    epoch seconds of the session's first and last event.
    """
    return (
        df.withColumn("_t", F.timestamp_seconds(F.col(ts_col).cast("long")))
        .withWatermark("_t", watermark_delay)
        .groupBy(
            F.col(key_col).cast("string").alias("key"),
            F.session_window("_t", f"{gap_seconds} seconds"),
        )
        .agg(
            F.min("_t").cast("long").alias("session_start"),
            F.max("_t").cast("long").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .drop("session_window")
    )


def last_touch_attribution_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    target: str = "purchase",
    within_seconds: int = 3600,
) -> DataFrame:
    """Streaming twin of `patterns.last_touch_attribution` — and the
    literal Flink keyed-ProcessFunction shape the batch docstring alludes
    to: ONE fixed-width value state per key holding the latest non-target
    (ts, id, type); every target event reads it and emits its attribution
    immediately. State is O(1) bytes per key forever — no timeline
    retention, no timers.

    Ordering contract (same as `strict_sequence_stream`): rows are
    processed in per-batch (ts, id) order, so same-timestamp ties resolve
    identically to the batch operator's (ts, id) sort; across batches the
    operator assumes per-key in-order delivery — compose with
    `reorder_buffer_stream` ahead of it for out-of-order streams.

    Emits (key, target_id, target_ts_s, attributed_type, attributed_id,
    gap_seconds), nulls when nothing qualifies inside ``within_seconds`` —
    matching the batch operator's rows with the key cast to string.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        best = tuple(state.get) if state.exists else None
        rows = []
        for pdf in pdfs:
            col = pdf[ts_col]
            if col.dtype.kind == "M":
                col = col.astype("int64") // 1_000_000_000
            rows.extend(
                zip(
                    col.astype("int64").tolist(),
                    pdf[id_col].astype("int64").tolist(),
                    pdf[type_col].tolist(),
                )
            )
        rows.sort()
        out = []
        for ts, rid, typ in rows:
            if typ == target:
                if best is not None and ts - best[0] <= within_seconds:
                    out.append(
                        (str(key[0]), rid, ts, best[2], best[1], ts - best[0])
                    )
                else:
                    out.append((str(key[0]), rid, ts, None, None, None))
            elif best is None or (ts, rid) > (best[0], best[1]):
                best = (ts, rid, typ)
        if best is not None:
            state.update(best)
        yield pd.DataFrame(
            out,
            columns=[
                key_col, "target_id", "target_ts_s",
                "attributed_type", "attributed_id", "gap_seconds",
            ],
        )

    return (
        df.groupBy(F.col(key_col).cast("string").alias(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=T.StructType(
                [
                    T.StructField(key_col, T.StringType(), True),
                    T.StructField("target_id", T.LongType(), False),
                    T.StructField("target_ts_s", T.LongType(), False),
                    T.StructField("attributed_type", T.StringType(), True),
                    T.StructField("attributed_id", T.LongType(), True),
                    T.StructField("gap_seconds", T.LongType(), True),
                ]
            ),
            stateStructType=T.StructType(
                [
                    T.StructField("last_ts", T.LongType(), False),
                    T.StructField("last_id", T.LongType(), False),
                    T.StructField("last_type", T.StringType(), False),
                ]
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


KNN_TOPK_OUTPUT = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)

_KNN_TOPK_STATE = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType()), False),
        T.StructField("scores", T.ArrayType(T.DoubleType()), False),
    ]
)


def knn_topk_stream(
    df: DataFrame,
    queries: "list[tuple[int, list[float]]]",
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    output_mode: str = "update",
) -> DataFrame:
    """Online top-k nearest neighbors of a FIXED query set over an
    embedding ingest stream → ``(query_id, vec_id, score, rank)``, the
    current top-k per query re-emitted whenever a batch improves it.

    The streaming complement of the batch brute-force KNN
    (``vector.py``): instead of rescanning the corpus per evaluation,
    each arriving vector is scored against every query ONCE, at ingest
    — the online retrieval-eval / dedup-screen deployment shape.

    Scale/shape contract:
      * scoring is JVM-side: the query vectors are inlined as array
        literals (model-sized — a query set, never a corpus) and the
        dot product folds via ``zip_with``+``aggregate`` BEFORE the
        stateful exchange; the shuffle carries slim (query_id, vec_id,
        score) rows, |queries| per arriving vector, never the vectors.
      * state per query is the k-row top list (two fixed arrays) —
        bounded by k, not by stream volume.
      * merge order is deterministic: (score DESC, vec_id ASC) tiebreak,
        so the drained top-k equals the batch top-k over the same rows
        for ANY arrival order (asserted in tests). Scores are raw dot
        products — cosine when inputs are unit-normalized (the
        embeddings fixture contract).
      * duplicate-delivery safe (r12, matching the HLL/edge-set ops):
        the merge dedups by vec_id (keeping the max score) BEFORE
        truncating to k, so an at-least-once source redelivering a
        vector can neither evict a genuine neighbor nor emit the same
        vec_id twice in one top-k.
    """
    structs = []
    for qid, qv in queries:
        arr = "array(" + ", ".join(f"{float(x)!r}D" for x in qv) + ")"
        dot = F.expr(_dot_sql(f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)", arr))
        structs.append(
            F.struct(
                F.lit(int(qid)).cast("long").alias("query_id"),
                dot.alias("score"),
            )
        )
    scored = df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.explode(F.array(*structs)).alias("_q"),
    ).select("vec_id", F.col("_q.query_id").alias("query_id"),
             F.col("_q.score").alias("score"))

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, scores = state.get
            cur = list(zip(scores, ids))
        else:
            cur = []
        for pdf in pdfs:
            cur.extend(
                zip(pdf["score"].astype(float).tolist(),
                    pdf["vec_id"].astype("int64").tolist())
            )
        # dedup by vec_id keeping the best score — redelivered vectors
        # (at-least-once sources) must not occupy two of the k slots
        best: dict = {}
        for s, i in cur:
            if i not in best or s > best[i]:
                best[i] = s
        cur = [(s, i) for i, s in best.items()]
        cur.sort(key=lambda t: (-t[0], t[1]))
        cur = cur[:k]
        state.update((
            [int(i) for _, i in cur], [float(s) for s, _ in cur],
        ))
        yield pd.DataFrame(
            [
                (int(key[0]), int(i), float(s), r + 1)
                for r, (s, i) in enumerate(cur)
            ],
            columns=["query_id", "vec_id", "score", "rank"],
        )

    return scored.groupBy("query_id").applyInPandasWithState(
        fn,
        outputStructType=KNN_TOPK_OUTPUT,
        stateStructType=_KNN_TOPK_STATE,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
