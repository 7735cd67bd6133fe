"""Structured Streaming layer (SURVEY §2.4-2.5 S/St rows).

Module map:
  watermark.py — event-time + watermark declaration (E1-E6)
  stateful.py  — applyInPandasWithState operators: count windows (W4),
                 count/purging triggers (TR1/TR2), connect/CoProcess (J4);
                 event-time gap sessions on native session_window (W3)
  replay.py    — batch↔stream bridge: replay a bounded DataFrame through a
                 file stream; collect a stream to a DataFrame — the
                 streaming ≡ batch equivalence harness (SURVEY §5 test 4)
  rollup.py    — continuous rollup (append-mode windowed materialization +
                 materialized∪tail serving view), the stateless tokenize
                 ingest and the canonical edge-set state

Every other incremental aggregate is the batch operator itself, run on a
streaming DataFrame in complete mode (``timeseries.binned_sums``,
``profiling.fd_xy_counts``, ``sketches.countmin_grid``, ...); an operator
whose report is non-incremental is ``report(state(df))``, and a stream
drains ``state`` and runs ``report`` on read.

Streaming semantics notes (deviations documented per SURVEY §7 hard parts):
  * Watermark cadence: Flink emits watermarks on a timer
    (setAutoWatermarkInterval, TimeBasedTransformations.scala:95) or
    per-element (Shopping.scala:134); Spark advances the watermark at
    micro-batch boundaries to max(event_time) - delay. Same bounded-out-of-
    orderness semantics, different emission cadence; window RESULTS are
    identical on bounded replays.
  * Count triggers (TR1): firing-without-purge emits a growing aggregate
    per fire; modeled as update-mode emission (per-micro-batch) or exactly
    via stateful.count_trigger_stream.
  * All windowed aggs / stream-stream joins reuse the SAME expressions as
    the batch operators (operators/windows.py, operators/joins.py) — one
    logical definition, two execution modes.
"""
