#!/usr/bin/env python
"""Per-query profiler: where a registry query's time, jobs and bytes go.

    python scripts/profile_query.py FIXTURE [FIXTURE2] [--conf JSON] [--plans DIR] QUERY ...

QUERY is a registry name, ``@headline`` (bench.py's set) or ``@all``. Each
query runs under ``setJobGroup(name)``: one warm-up run, then the fastest of
four runs is reported, its output materialized through the ``noop`` sink.
Every run starts with an empty cache (``spark.catalog.clearCache()``).

A query's cost has two sides: the jobs it runs while its DataFrame is
*built* (eager counts, checkpoints, driver collects) and the jobs its plan
runs when *executed*. A record holds build time, jobs and shuffle bytes;
``build_py4j_calls``, the driver→JVM Py4J round-trips of the build;
Catalyst's analysis, optimization and planning times; execution time,
jobs, stages and tasks; exchanges, codegen stages and Python-eval nodes of
the executed (post-AQE) plan, with the bytes of each exchange; and the
session's ``cpus``; and ``gates``, the adaptive-gate decisions
(``session.GATE_LOG``: driver small path, salting, small input) logged
while the query was built. Counters come from ``perfbench/spans.py`` and keep its
names. Where a DuckDB oracle exists, its time (same warm-up, min of four)
is the ``oracle_s`` column.

A second fixture directory adds scaling exponents
``alpha = log(x2 / x1) / log(rows2 / rows1)`` of wall time and of total
shuffle bytes, with the row ratio read from the fixtures' parquet footers.
``--conf`` adds session settings (a JSON object; compare invocations for
an A/B) and ``--plans DIR`` writes each executed plan to ``DIR/<query>.txt``.

Output: one table row per query, then one JSON line holding every record.
The session runs on local[<usable cpus>] with as many shuffle partitions.
"""

from __future__ import annotations

import argparse
import json
import logging
import math
import os
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

from spans import (  # noqa: E402
    QueryExecutionCapture, StatusReader, phases, plan_counts, stage_counters)

RUNS = 4
COLUMNS = (  # (record key, table heading)
    ("wall_s", "wall_s"), ("registry.build_s", "build_s"), ("build_py4j_calls", "b_py4j"),
    ("registry.build_jobs", "b_jobs"), ("registry.build_shuffle_bytes", "b_shuf_B"),
    ("operators.exec_s", "exec_s"), ("operators.jobs", "jobs"),
    ("operators.stages", "stages"), ("operators.tasks", "tasks"),
    ("plans.exchanges", "exch"), ("plans.codegen_stages", "cg"),
    ("plans.python_nodes", "py"), ("operators.shuffle_bytes", "shuf_B"),
    ("oracle_s", "oracle_s"), ("alpha_wall", "a_wall"), ("alpha_bytes", "a_bytes"))


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def collect_exchanges(plan) -> list[dict]:
    """Walk an executed plan, descending through AQE wrapper nodes and
    materialized query stages; one record per non-reused exchange."""
    found: list[dict] = []

    def walk(node):
        name = node.nodeName()
        if name == "Exchange":  # shuffle exchange (reused ones report {})
            m = _metrics(node)
            if m.get("shuffleRecordsWritten") is not None:
                found.append({"kind": "shuffle", "records": m["shuffleRecordsWritten"],
                              "bytes": m.get("shuffleBytesWritten", 0)})
        elif name == "BroadcastExchange":
            m = _metrics(node)
            found.append({"kind": "broadcast", "records": m.get("numOutputRows", 0),
                          "bytes": m.get("dataSize", 0)})
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        # AQE wrappers: the executed tree hangs off accessors, not children()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif name.endswith("QueryStage"):
            walk(node.plan())

    walk(plan)
    return found


_ROUND_TRIPS = [0]  # Py4J commands sent since `_count_round_trips` ran


def _count_round_trips() -> None:
    """Count every Py4J command the main thread sends (one per round-trip
    to the JVM) in `_ROUND_TRIPS`; installs once per process. Py4J's
    background thread that releases garbage-collected JVM references is
    not counted: its commands arrive at arbitrary times, off the thread
    that builds the plan."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    if getattr(send, "counts_round_trips", False):
        return

    def counting(self, command):
        if threading.current_thread() is threading.main_thread():
            _ROUND_TRIPS[0] += 1
        return send(self, command)

    counting.counts_round_trips = True
    ClientServerConnection.send_command = counting


class _GateRecorder(logging.Handler):
    """Keeps each gate decision logged on ``session.GATE_LOG`` as a dict."""

    def __init__(self):
        super().__init__()
        self.decisions: list[dict] = []

    def emit(self, record):
        # the small-input gate measures bytes=, every other gate rows=
        size = "bytes" if "bytes=" in record.msg else "rows"
        self.decisions.append(dict(zip(("gate", size, "bound", "path"), record.args)))


class Profiler:
    """Runs registry queries on ``spark`` and reads back what each run did."""

    def __init__(self, spark):
        from apache_flink_essentials_spark import registry
        from apache_flink_essentials_spark.session import GATE_LOG

        _count_round_trips()
        self.gates = _GateRecorder()
        GATE_LOG.addHandler(self.gates)
        GATE_LOG.setLevel(logging.INFO)
        self.spark = spark
        self.queries = registry.QUERIES
        self.capture = QueryExecutionCapture(spark)
        self.status = StatusReader(spark)
        self.cpus = spark.sparkContext.defaultParallelism
        self.qe = None  # QueryExecution of the last run's noop write

    def sample(self, name: str, fixture: str) -> dict:
        """Build ``name`` over ``fixture`` and write it to ``noop`` once;
        the run's record. Counter reads are not timed. The session's cache
        is cleared first, so an operator that persists inside its plan is
        never timed reading the entry its previous run left behind."""
        self.spark.catalog.clearCache()
        status = self.status
        self.spark.sparkContext.setJobGroup(name, name)
        status.drain()
        before = status.job_ids(name)
        self.gates.decisions = []
        calls0, t0 = _ROUND_TRIPS[0], time.perf_counter()
        df = self.queries[name](self.spark, fixture)
        build_s = time.perf_counter() - t0
        build_calls = _ROUND_TRIPS[0] - calls0
        gates = self.gates.decisions.copy()
        status.drain()
        build_ids = status.job_ids(name) - before
        self.capture.events.clear()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        write_s = time.perf_counter() - t0
        status.drain()
        exec_ids = status.job_ids(name) - before - build_ids
        self.qe = qe = next((e for f, e in reversed(self.capture.events) if f == "overwrite"),
                            df._jdf.queryExecution())
        dur = {k: e - s for k, (s, e) in phases(qe).items()}
        # the DataFrame was analysed while it was built; the write re-plans it
        built = phases(df._jdf.queryExecution()).get("analysis", (0.0, 0.0))
        b_jobs = status.jobs(build_ids)
        plan = qe.executedPlan()
        return {
            "query": name, "cpus": self.cpus, "wall_s": build_s + write_s,
            "registry.build_s": build_s,
            "build_py4j_calls": build_calls,
            "registry.build_shuffle_bytes": sum(s["shuffle_bytes"] for j in b_jobs
                                                for s in j["stages"]),
            "plans.analysis_s": built[1] - built[0] + dur.get("analysis", 0.0),
            "plans.optimization_s": dur.get("optimization", 0.0),
            "plans.planning_s": dur.get("planning", 0.0),
            "operators.exec_s": write_s - sum(dur.values()),
            **plan_counts(plan.toString()),
            **stage_counters(b_jobs, status.jobs(exec_ids)),
            "exchanges": collect_exchanges(plan),
            "gates": gates,
        }

    def profile(self, name: str, fixture: str, plans: str | None = None) -> dict:
        """One warm-up run, then the record of the fastest of `RUNS`."""
        self.sample(name, fixture)
        best = min((self.sample(name, fixture) for _ in range(RUNS)),
                   key=lambda r: r["wall_s"])
        if plans:
            os.makedirs(plans, exist_ok=True)
            text = self.spark._jvm.PythonSQLUtils.explainString(self.qe, "formatted")
            Path(plans, f"{name}.txt").write_text(text)
        return best


def duck(fixture: str):
    """DuckDB connection with one view per parquet table of ``fixture``."""
    import duckdb

    con = duckdb.connect()
    for p in sorted(Path(fixture).glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con


def oracle_s(con, sql: str) -> float:
    """DuckDB time of ``sql``: one warm-up run, then the fastest of `RUNS`."""
    con.sql(sql).fetchall()
    best = math.inf
    for _ in range(RUNS):
        t0 = time.perf_counter()
        con.sql(sql).fetchall()
        best = min(best, time.perf_counter() - t0)
    return best


def _fixture_rows(fixture: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in Path(fixture).glob("*.parquet"))


def _alpha(lo: float, hi: float, ratio: float) -> float | None:
    return math.log(hi / lo) / math.log(ratio) if lo > 0 and hi > 0 else None


def _shuffle_bytes(rec: dict) -> int:
    return rec["registry.build_shuffle_bytes"] + rec["operators.shuffle_bytes"]


def _row(name: str, rec: dict) -> str:
    if "error" in rec:
        return f"{name:34} ERROR {rec['error']}"
    cells = []
    for k, _ in COLUMNS:
        v = rec.get(k)
        cells.append("-" if v is None else f"{v:.3f}" if isinstance(v, float) else str(v))
    return f"{name:34} " + " ".join(f"{c:>8}" for c in cells + rec["flags"])


def _names(targets: list[str], queries) -> list[str]:
    out = []
    for t in targets:
        if t == "@all":
            out += list(queries)
        elif t == "@headline":
            from bench import HEADLINE
            out += HEADLINE
        elif t in queries:
            out.append(t)
        else:
            raise SystemExit(f"profile_query: unknown query {t!r}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("targets", nargs="+", metavar="FIXTURE|QUERY",
                    help="one or two fixture directories, then queries, @headline or @all")
    ap.add_argument("--conf", type=json.loads, default={}, help="session settings, a JSON object")
    ap.add_argument("--plans", metavar="DIR", help="write executed plans to DIR/<query>.txt")
    args = ap.parse_intermixed_args(argv)
    fixtures = [t for t in args.targets if os.path.isdir(t)]
    if not 1 <= len(fixtures) <= 2:
        ap.error("give one or two fixture directories")

    from apache_flink_essentials_spark import get_spark, registry

    names = _names([t for t in args.targets if t not in fixtures], registry.QUERIES)
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="profile_query", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false", **args.conf})
    spark.sparkContext.setLogLevel("ERROR")
    prof, con = Profiler(spark), duck(fixtures[0])
    ratio = _fixture_rows(fixtures[1]) / _fixture_rows(fixtures[0]) if len(fixtures) > 1 else None
    print(f"{'query':34} " + " ".join(f"{h:>8}" for _, h in COLUMNS), flush=True)
    records = {}
    for name in names:
        try:
            rec = prof.profile(name, fixtures[0], args.plans)
            cartesian = "CartesianProduct" in prof.qe.executedPlan().toString()
            python = rec["plans.python_nodes"] > 0 and name in registry.ORACLES
            rec["flags"] = ["!!CARTESIAN"] * cartesian + ["!!PYTHON-IN-ORACLE-PATH"] * python
            if name in registry.ORACLES:
                rec["oracle_s"] = oracle_s(con, registry.ORACLES[name])
            if ratio:
                hi = prof.profile(name, fixtures[1])
                rec["scaled"] = {k: hi[k] for k in (
                    "wall_s", "registry.build_jobs", "registry.build_shuffle_bytes",
                    "operators.jobs", "operators.shuffle_bytes", "exchanges")}
                rec["alpha_wall"] = _alpha(rec["wall_s"], hi["wall_s"], ratio)
                rec["alpha_bytes"] = _alpha(_shuffle_bytes(rec), _shuffle_bytes(hi), ratio)
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            rec = {"query": name, "error": f"{type(e).__name__}: {str(e)[:200]}"}
        print(_row(name, rec), flush=True)
        records[name] = rec
    spark.stop()
    print(json.dumps({"cpus": cpus, "fixtures": fixtures, "row_ratio": ratio,
                      "conf": args.conf, "records": records}))
    return 1 if any("error" in r for r in records.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
