"""Spans, counters and the Spark-side readers behind the per-layer metrics.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into each layer, and counters come from Spark's
status store, the QueryExecution that ran a query, and stream progress.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def span_at(self, name: str, start: float, end: float, parent: int | None,
                **attrs) -> int:
        """Record a span timed elsewhere (by Spark or a stream's progress)."""
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run": self.run_id, **attrs})
        return len(self.spans) - 1


class QueryExecutionCapture:
    """Keeps the QueryExecution of every action Spark reports to its
    listener manager, so planning phases and the executed plan are read from
    the QueryExecution that actually ran, not the DataFrame's own."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.events: list[tuple[str, object]] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.events.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.events.append((func_name, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


_PY_NODE = re.compile(
    r"\b(ArrowEvalPython\w*|BatchEvalPython\w*|\w+InPandas\w*|\w+InArrow\w*)\b")
_EXCHANGE = re.compile(r"\b(?:Broadcast|Reused)?Exchange\b")
_CODEGEN = re.compile(r"\*\((\d+)\)")


def plan_counts(plan_text: str) -> dict:
    """Exchanges, whole-stage-codegen stages and Python-eval nodes of an
    executed plan (the final adaptive plan when AQE re-planned it)."""
    final = plan_text.split("== Initial Plan ==")[0]
    return {
        "plans.exchanges": len(_EXCHANGE.findall(final)),
        "plans.codegen_stages": len(set(_CODEGEN.findall(final))),
        "plans.python_nodes": len(_PY_NODE.findall(final)),
    }


def phases(qe) -> dict[str, tuple[float, float]]:
    """QueryPlanningTracker phases of ``qe`` as (start, end) epoch seconds."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        s = kv._2()
        out[kv._1()] = (s.startTimeMs() / 1e3, s.endTimeMs() / 1e3)
    return out


class StatusReader:
    """Job, stage and task counters from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        gw = self.sc._gateway
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0

    def job_ids(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def drain(self) -> None:
        """Wait until every event posted so far reached the listeners."""
        self.bus.waitUntilEmpty()

    def jobs(self, ids) -> list[dict]:
        """One record per job: its span and its completed stages."""
        out = []
        for jid in sorted(ids):
            job = self.store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            rec = {"id": jid,
                   "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                   "end": end.get().getTime() / 1e3 if end.isDefined() else None,
                   "stages": []}
            it = job.stageIds().iterator()
            while it.hasNext():
                try:
                    sd = self.store.lastStageAttempt(it.next())
                except Exception:  # noqa: BLE001 — skipped stage, never ran
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                rec["stages"].append(self._stage(sd))
            out.append(rec)
        return out

    def _stage(self, sd) -> dict:
        first, done = sd.firstTaskLaunchedTime(), sd.completionTime()
        dur = ((done.get().getTime() - first.get().getTime()) / 1e3
               if first.isDefined() and done.isDefined() else 0.0)
        med = mx = 0.0
        summ = self.store.taskSummary(sd.stageId(), sd.attemptId(), self.quantiles)
        if summ.isDefined():
            run = summ.get().executorRunTime()
            med, mx = run.apply(0) / 1e3, run.apply(1) / 1e3
        return {
            "tasks": sd.numTasks(), "duration_s": dur,
            "run_s": sd.executorRunTime() / 1e3, "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3, "result_bytes": sd.resultSize(),
            "input_rows": sd.inputRecords(), "input_bytes": sd.inputBytes(),
            "shuffle_bytes": sd.shuffleWriteBytes(),
            "shuffle_records": sd.shuffleWriteRecords(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "task_p50_s": med, "task_max_s": mx,
        }


def stage_counters(build_jobs: list[dict], exec_jobs: list[dict]) -> dict:
    """Fold per-stage records into the io / registry / operators counters."""
    b_st = [s for j in build_jobs for s in j["stages"]]
    e_st = [s for j in exec_jobs for s in j["stages"]]
    longest = max(e_st, key=lambda s: s["duration_s"], default=None)
    skew = (longest["task_max_s"] / longest["task_p50_s"]
            if longest and longest["task_p50_s"] > 0 else 1.0)
    return {
        "io.scan_rows": sum(s["input_rows"] for s in b_st + e_st),
        "io.scan_bytes": sum(s["input_bytes"] for s in b_st + e_st),
        "registry.build_jobs": len(build_jobs),
        "registry.build_result_bytes": sum(s["result_bytes"] for s in b_st),
        "operators.jobs": len(exec_jobs),
        "operators.stages": len(e_st),
        "operators.tasks": sum(s["tasks"] for s in e_st),
        "operators.task_run_s": sum(s["run_s"] for s in e_st),
        "operators.task_cpu_s": sum(s["cpu_s"] for s in e_st),
        "operators.gc_s": sum(s["gc_s"] for s in e_st),
        "operators.shuffle_bytes": sum(s["shuffle_bytes"] for s in e_st),
        "operators.shuffle_records": sum(s["shuffle_records"] for s in e_st),
        "operators.spill_bytes": sum(s["spill_bytes"] for s in e_st),
        "operators.task_skew": skew,
        "operators.max_task_s": max((s["task_max_s"] for s in e_st), default=0.0),
    }
