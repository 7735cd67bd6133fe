"""The stream_replay workload: a backlog of time-ordered parquet files,
written before the clock starts, drained first through
``streaming.rollup.continuous_rollup`` and then through
``streaming.stateful.timeout_session_stream``, each with an availableNow
trigger and one file per micro-batch."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from apache_flink_essentials_spark.streaming import rollup, stateful

import check

GAP_S = 1800
WATERMARK = "10 minutes"


def _progress_record(stream: str, start: float, wall: float, rows: int,
                     progress: list[dict]) -> dict:
    batches = []
    for p in progress:
        d = p["durationMs"]
        ops = p.get("stateOperators") or []
        batches.append({
            "batch_id": p["batchId"], "rows": p["numInputRows"],
            "start": dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp(),
            "trigger_ms": d.get("triggerExecution", 0),
            "get_batch_ms": d.get("getBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "state_rows": sum(o["numRowsTotal"] for o in ops),
            "state_bytes": sum(o["memoryUsedBytes"] for o in ops),
            "state_commit_ms": sum(o["commitTimeMs"] for o in ops),
            "late_rows": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        })
    return {"stream": stream, "start": start, "wall_s": wall, "rows": rows, "batches": batches}


class Replay:
    """Drains one backlog directory through both stream queries."""

    def __init__(self, spark, work: str, last_window_start: int):
        self.spark = spark
        self.work = work
        self.last_window_start = last_window_start  # windows after it hold only the sentinel
        self.want_rollup = self.want_sessions = None
        self.n = 0

    def _source(self, backlog: str):
        schema = self.spark.read.parquet(os.path.join(backlog, "part-00000.parquet")).schema
        return (self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(backlog))

    def drain(self, backlog: str, rows: int, check_output: bool) -> tuple[list[dict], list[str]]:
        """Run both streams to completion over ``backlog``. Returns one
        progress record per stream and the failed output checks."""
        self.n += 1
        out = os.path.join(self.work, f"drain{self.n}")
        failures: list[str] = []

        start, t0 = time.time(), time.perf_counter()
        q = rollup.continuous_rollup(
            self._source(backlog), "ts", "1 hour",
            [F.count("*").alias("n"), F.sum("value").alias("total")],
            os.path.join(out, "rollup"), os.path.join(out, "ck_rollup"),
            watermark_delay=WATERMARK, trigger={"availableNow": True})
        q.awaitTermination()
        recs = [_progress_record("rollup", start, time.perf_counter() - t0, rows,
                                 q.recentProgress)]

        name = f"sessions_{self.n}"
        start, t0 = time.time(), time.perf_counter()
        q = (stateful.timeout_session_stream(self._source(backlog), "user_id", "ts",
                                             GAP_S, watermark_delay=WATERMARK)
             .writeStream.format("memory").queryName(name).outputMode("append")
             .option("checkpointLocation", os.path.join(out, "ck_sessions"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        recs.append(_progress_record("session", start, time.perf_counter() - t0, rows,
                                     q.recentProgress))

        if check_output:
            got = check.rollup_table(pq.read_table(os.path.join(out, "rollup")))
            got = got.filter(pc.less_equal(got.column("window_start"), self.last_window_start))
            failures.append(check.compare("continuous_rollup", got, self.want_rollup))
            sess = self.spark.table(name).filter(F.col("key") != "-1").toArrow()
            failures.append(check.compare("timeout_session_stream", sess, self.want_sessions))
            late = sum(b["late_rows"] for r in recs for b in r["batches"])
            if late:
                failures.append(f"stream late rows dropped: {late}, expected 0")
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(out, ignore_errors=True)
        return recs, [f for f in failures if f]


def summarize(drains: list[list[dict]]) -> dict:
    """End-to-end stream figures over the timed drains (medians)."""
    def per(stream: str):
        return [r for d in drains for r in d if r["stream"] == stream]

    out = {}
    for stream in ("rollup", "session"):
        recs = per(stream)
        out[f"{stream}_rows_per_s"] = statistics.median(r["rows"] / r["wall_s"] for r in recs)
        out[f"{stream}_batch_p50_s"] = statistics.median(
            b["trigger_ms"] / 1e3 for r in recs for b in r["batches"])
    out["wall_s"] = statistics.median(sum(r["wall_s"] for r in d) for d in drains)
    return out


def layer_counters(drains: list[list[dict]]) -> dict:
    """streaming.* per-layer counters: medians per micro-batch for phase
    times, peaks for state size, totals per drain for counts."""
    batches = [b for d in drains for r in d for b in r["batches"]]

    def med(key):
        return statistics.median(b[key] for b in batches)

    per_drain = [
        {"batches": sum(len(r["batches"]) for r in d),
         "late": sum(b["late_rows"] for r in d for b in r["batches"])}
        for d in drains]
    return {
        "streaming.batches": statistics.median(p["batches"] for p in per_drain),
        "streaming.get_batch_ms": med("get_batch_ms"),
        "streaming.query_planning_ms": med("query_planning_ms"),
        "streaming.wal_commit_ms": med("wal_commit_ms"),
        "streaming.add_batch_ms": med("add_batch_ms"),
        "streaming.state_rows": max(b["state_rows"] for b in batches),
        "streaming.state_bytes": max(b["state_bytes"] for b in batches),
        "streaming.state_commit_ms": med("state_commit_ms"),
        "streaming.late_rows_dropped": max(p["late"] for p in per_drain),
    }
