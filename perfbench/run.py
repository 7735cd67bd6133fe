"""perfbench: the engine's benchmark, one workload per run.

    python3 perfbench/run.py --workload flink_core --seed 1 --seconds 8 --trace 0

Run from the repository root. One process drives local[<cpus>] Spark as a
single closed-loop client: each query (or stream drain) starts when the
previous one has finished. A run generates its fixture from ``--seed``,
starts the session and warms up (set-up, timed as ``setup_s``), then
repeats the workload for as many passes as fill ``--seconds`` at its
nominal pace and checks every output against DuckDB outside the timed
region. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run alternates untraced and traced passes, reports the difference as
``trace.overhead_s`` and writes its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "apache_flink_essentials_spark" / "__init__.py"
LOAD_MODEL = ("closed loop, one client: the next query or stream drain starts "
              "when the previous one has finished")

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
STREAM_UNITS = {"rollup_rows_per_s": "rows/s", "rollup_batch_p50_s": "s",
                "session_rows_per_s": "rows/s", "session_batch_p50_s": "s"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path, n_cpus: int) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    jvm_tmp = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
        "SPARK_LAUNCHER_OPTS": jvm_tmp,
        # A fixed, pre-touched heap keeps the JVM's resident size from
        # following GC heap-sizing decisions, so peak_rss_mb repeats. The
        # driver JIT stops at C1: with C2, passes kept speeding up by 30 to
        # 50% over a whole run, so a run's median measured how far the
        # optimising compiler had got; with C1 passes are flat after set-up.
        "SPARK_SUBMIT_OPTS": f"{jvm_tmp} -Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit: kill and reap
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def pass_count(seconds: float, spec, least: int) -> int:
    """Timed passes that fill ``seconds`` at the workload's nominal pace.

    The count depends on the run length only, never on measured speed, so
    a faster commit does not also get more warm-up before its median.
    """
    return max(least, round(seconds / spec.pass_s))


class Run:
    """State shared by the workload runners: session, clock, checks."""

    def __init__(self, args, work: Path, n_cpus: int):
        self.args = args
        self.work = work
        self.cpus = n_cpus
        self.data = str(work / "data")
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}
        self.per_query: dict[str, dict] = {}
        self.manifest: dict = {"workload": args.workload, "seed": args.seed,
                               "cpus": n_cpus, "load": LOAD_MODEL,
                               "run_seconds": args.seconds}
        self.spark = None
        self.tracer = None
        if args.trace:
            from spans import Tracer
            self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")


def start_session(run: Run) -> float:
    """Import the engine and start its session; returns the seconds taken."""
    t0 = time.perf_counter()
    from apache_flink_essentials_spark import get_spark

    run.spark = get_spark(app_name="perfbench", shuffle_partitions=run.cpus,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    run.spark.sparkContext.setLogLevel("OFF")
    return time.perf_counter() - t0


# --------------------------------------------------------------- batch ----

def _timed_pass(spark, queries, data, registry, failed_counts) -> tuple[float, dict]:
    sc = spark.sparkContext
    per = {}
    t0 = time.perf_counter()
    for q in queries:
        sc.setJobGroup(q, q)
        a = time.perf_counter()
        try:
            registry.QUERIES[q](spark, data).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
            failed_counts[q] = failed_counts.get(q, 0) + 1
            print(f"perfbench: {q} raised {type(e).__name__}: {str(e)[:200]}")
        per[q] = time.perf_counter() - a
    return time.perf_counter() - t0, per


def _traced_pass(spark, run: Run, queries, registry, capture, status) -> tuple[float, dict]:
    """One pass with a span at every layer boundary. Reading counters after
    each query is tracer work and is excluded from the pass wall."""
    from spans import phases, plan_counts, stage_counters

    tr = run.tracer
    sc = spark.sparkContext
    per: dict[str, dict] = {}
    tracer_s = 0.0
    with tr.span("pass") as pass_span:
        t_pass = time.perf_counter()
        for q in queries:
            sc.setJobGroup(q, q)
            before = status.job_ids(q)
            with tr.span("query", query=q) as qs:
                a = time.perf_counter()
                with tr.span("registry.build"):
                    df = registry.QUERIES[q](spark, run.data)
                b = time.perf_counter()
                build_ids = status.job_ids(q) - before
                capture.events.clear()
                with tr.span("operators.exec") as ex:
                    df.write.format("noop").mode("overwrite").save()
                c = time.perf_counter()
            t_read = time.perf_counter()
            status.drain()
            exec_ids = status.job_ids(q) - before - build_ids
            # the noop write's own QueryExecution; the DataFrame's one is a fallback
            qe = next((e for name, e in reversed(capture.events) if name == "overwrite"),
                      df._jdf.queryExecution())
            ph = phases(qe)
            for name, (s, e) in ph.items():
                tr.span_at(f"plans.{name}", s, e, ex["id"])
            dur = {k: e - s for k, (s, e) in ph.items()}
            b_jobs, e_jobs = status.jobs(build_ids), status.jobs(exec_ids)
            for j in b_jobs + e_jobs:
                if j["start"] and j["end"]:
                    tr.span_at("spark.job", j["start"], j["end"], qs["id"], job=j["id"])
            # the DataFrame was analysed while it was built; the write re-plans it
            built = phases(df._jdf.queryExecution()).get("analysis", (0.0, 0.0))
            rec = {
                "registry.build_s": b - a,
                "plans.analysis_s": built[1] - built[0] + dur.get("analysis", 0.0),
                "plans.optimization_s": dur.get("optimization", 0.0),
                "plans.planning_s": dur.get("planning", 0.0),
                "operators.exec_s": (c - b) - sum(dur.values()),
                "write_s": c - b,
                **plan_counts(qe.executedPlan().toString()),
                **stage_counters(b_jobs, e_jobs),
            }
            capture.events.clear()
            per[q] = rec
            tracer_s += time.perf_counter() - t_read
        wall = time.perf_counter() - t_pass - tracer_s
        pass_span["wall_s"] = wall
    return wall, per


SUM_KEYS = ("io.scan_rows", "io.scan_bytes", "registry.build_s", "registry.build_jobs",
            "registry.build_result_bytes", "plans.analysis_s", "plans.optimization_s",
            "plans.planning_s", "plans.exchanges", "plans.codegen_stages",
            "plans.python_nodes", "operators.exec_s", "operators.jobs",
            "operators.stages", "operators.tasks", "operators.task_run_s",
            "operators.task_cpu_s", "operators.gc_s", "operators.shuffle_bytes",
            "operators.shuffle_records", "operators.spill_bytes")


def _fold_layers(run: Run, traced: list[dict]) -> None:
    """Per query: median of each counter over traced passes. Per workload:
    sums, except ratios and maxima."""
    for q in traced[0]:
        run.per_query[q] = {k: statistics.median(p[q][k] for p in traced)
                            for k in traced[0][q]}
    pq_ = run.per_query.values()
    for k in SUM_KEYS:
        run.layers[k] = sum(r[k] for r in pq_)
    exec_total = run.layers["operators.exec_s"]
    run.layers["operators.core_util"] = (
        run.layers["operators.task_run_s"] / (exec_total * run.cpus) if exec_total > 0 else 0.0)
    for q, r in run.per_query.items():
        r["operators.core_util"] = (r["operators.task_run_s"] / (r["operators.exec_s"] * run.cpus)
                                    if r["operators.exec_s"] > 0 else 0.0)
    run.layers["operators.task_skew"] = max(r["operators.task_skew"] for r in pq_)
    run.layers["operators.max_task_s"] = max(r["operators.max_task_s"] for r in pq_)


def run_batch(run: Run, spec) -> tuple[dict, int, int]:
    import fixtures

    t0 = time.perf_counter()
    tabs = fixtures.tables(spec.sf, run.args.seed, spec.hot_user_share, spec.hot_cust_share)
    run.manifest["fixture"] = fixtures.write_tables(run.data, tabs)
    del tabs
    gen_s = time.perf_counter() - t0
    start_s = start_session(run)
    spark = run.spark
    from apache_flink_essentials_spark import registry

    sc = spark.sparkContext
    queries = list(spec.queries)
    run.manifest["queries"] = queries
    outputs = {}
    t0 = time.perf_counter()
    for q in queries:
        sc.setJobGroup(q, q)
        try:
            outputs[q] = registry.QUERIES[q](spark, run.data).toArrow()
        except Exception as e:  # noqa: BLE001 — counted as a failed query
            run.failures.append(f"{q}: raised {type(e).__name__}: {str(e)[:200]}")
    live = [q for q in queries if q in outputs]
    # a second, noop-sink warm pass: the JIT is still compiling after the first
    _timed_pass(spark, live, run.data, registry, {})
    warm_s = time.perf_counter() - t0
    setup_s = gen_s + start_s + warm_s
    run.layers["session.start_s"] = start_s

    failed_counts: dict[str, int] = {}
    untraced, traced = [], []
    capture = status = None
    if run.tracer:
        from spans import QueryExecutionCapture, StatusReader
        capture, status = QueryExecutionCapture(spark), StatusReader(spark)
    for _ in range(pass_count(run.args.seconds, spec, least=3)):
        untraced.append(_timed_pass(spark, live, run.data, registry, failed_counts))
        if run.tracer:
            traced.append(_traced_pass(spark, run, live, registry, capture, status))
    n_pass = len(untraced) + len(traced)

    import check

    con = check.duck(run.data)
    for q in live:
        want = check.expected(con, q, registry.ORACLES)
        if want is None:
            run.failures.append(f"{q}: no oracle to check against")
            continue
        bad = check.compare(q, outputs[q], want)
        if bad:
            run.failures.append(bad)
            failed_counts[q] = n_pass
    con.close()
    failed = sum(failed_counts.values()) + n_pass * (len(queries) - len(live))
    attempted = n_pass * len(queries)

    walls = [w for w, _ in untraced]
    result = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "peak_rss_mb": peak_rss_mb(spark),
    }
    run.manifest.update(passes=len(walls), pass_walls_s=walls, query_s=[p for _, p in untraced],
                        setup_parts_s={"fixture": gen_s, "session": start_s, "warm": warm_s})
    if run.tracer and traced:
        _fold_layers(run, [p for _, p in traced])
        t_walls = [w for w, _ in traced]
        run.layers["trace.overhead_s"] = statistics.median(t_walls) - result["wall_s"]
        covered = statistics.median(
            sum(r["registry.build_s"] + r["write_s"] for r in p.values()) / w
            for w, p in traced)
        run.layers["trace.coverage"] = covered
        ok = abs(1 - covered) <= 0.05
        print(f"perfbench: trace coverage (build + plan + exec) / pass wall = "
              f"{covered:.4f} {'ok' if ok else 'FAIL: off by more than 5%'}")
    return result, attempted, failed


# -------------------------------------------------------------- stream ----

def run_stream(run: Run, spec) -> tuple[dict, int, int]:
    import numpy as np
    import pyarrow.parquet as pq

    import fixtures

    t0 = time.perf_counter()
    rng = np.random.default_rng(run.args.seed)
    events = fixtures.events_table(rng, spec.events, spec.users)
    os.makedirs(run.data, exist_ok=True)
    pq.write_table(events, os.path.join(run.data, "events.parquet"))
    backlog, warm = str(run.work / "backlog"), str(run.work / "warm")
    fixtures.write_backlog(backlog, events, spec.files, 30 * 86400)
    n_warm = spec.events * spec.warm_files // spec.files
    fixtures.write_backlog(warm, events.slice(0, n_warm), spec.warm_files, 30 * 86400)
    run.manifest["fixture"] = {"backlog": {
        "rows": spec.events, "files": spec.files + 1,
        "bytes": sum(os.path.getsize(os.path.join(backlog, f)) for f in os.listdir(backlog))}}
    run.manifest["queries"] = ["streaming.rollup.continuous_rollup",
                               "streaming.stateful.timeout_session_stream"]
    gen_s = time.perf_counter() - t0
    start_s = start_session(run)
    spark = run.spark
    import check
    import streams

    last_hour = int(events.column("ts").cast("int64").to_numpy().max()) // 3_600_000_000 * 3600
    replay = streams.Replay(spark, str(run.work), last_hour)
    t0 = time.perf_counter()
    replay.drain(warm, n_warm, check_output=False)
    warm_s = time.perf_counter() - t0
    setup_s = gen_s + start_s + warm_s
    run.layers["session.start_s"] = start_s

    con = check.duck(run.data)
    replay.want_rollup = con.execute(check.ROLLUP_SQL).arrow()
    replay.want_sessions = con.execute(check.SESSION_SQL.format(gap=streams.GAP_S)).arrow()
    con.close()

    untraced, traced = [], []
    attempted = failed = 0
    for _ in range(pass_count(run.args.seconds, spec, least=2)):
        for sink in ([untraced, traced] if run.tracer else [untraced]):
            recs, bad = replay.drain(backlog, spec.events, check_output=True)
            if sink is traced:
                for r in recs:
                    sp = run.tracer.span_at(f"streaming.{r['stream']}", r["start"],
                                            r["start"] + r["wall_s"], None)
                    for b in r["batches"]:
                        run.tracer.span_at("streaming.batch", b["start"],
                                           b["start"] + b["trigger_ms"] / 1e3, sp,
                                           batch=b["batch_id"], rows=b["rows"])
            sink.append(recs)
            attempted += 2
            failed += min(2, len(bad))
            run.failures.extend(bad)

    summary = streams.summarize(untraced)
    result = {"setup_s": setup_s, "wall_s": summary["wall_s"],
              "peak_rss_mb": peak_rss_mb(spark)}
    run.manifest.update(drains=len(untraced), stream=summary,
                        setup_parts_s={"fixture": gen_s, "session": start_s, "warm": warm_s})
    print("perfbench: stream " + " ".join(
        f"{k}={v:.4f}{STREAM_UNITS[k]}" for k, v in summary.items() if k in STREAM_UNITS))
    if run.tracer:
        t_sum = streams.summarize(traced)
        run.layers.update(streams.layer_counters(traced))
        for k in ("rollup_rows_per_s", "session_rows_per_s",
                  "rollup_batch_p50_s", "session_batch_p50_s"):
            run.layers[f"streaming.{k}"] = t_sum[k]
        run.layers["trace.overhead_s"] = t_sum["wall_s"] - summary["wall_s"]
        # share of drain wall spent inside micro-batches; the rest is query start and stop
        run.layers["trace.coverage"] = statistics.median(
            sum(b["trigger_ms"] for b in r["batches"]) / 1e3 / r["wall_s"]
            for d in traced for r in d)
        for stream in ("rollup", "session"):
            run.per_query[stream] = streams.layer_counters(
                [[r for r in d if r["stream"] == stream] for d in traced])
    return result, attempted, failed


# ---------------------------------------------------------------- main ----

def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_all(args) -> int:
    """Run every workload in turn, each in its own process; print each one's
    report lines under its name, then one combined result line."""
    from workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or not lines:
            print(f"[{name}] perfbench: FAILED exit code {proc.returncode}")
            total["correct"] = False
            continue
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        res = json.loads(lines[-1])
        total["correct"] = total["correct"] and res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not PACKAGE.is_file():
        print(f"perfbench: engine package not found at {PACKAGE.parent}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    if args.workload == "all":
        return run_all(args)
    from workloads import Batch, WORKLOADS

    spec = WORKLOADS.get(args.workload)
    if spec is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    n_cpus = cpus()
    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    configure_env(work, n_cpus)
    run = Run(args, work, n_cpus)
    try:
        runner = run_batch if isinstance(spec, Batch) else run_stream
        e2e, attempted, failed = runner(run, spec)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench: " + json.dumps(run.manifest))
    print(f"perfbench: error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    for f in run.failures:
        print(f"perfbench: FAILED {f}")
    print("perfbench: " + " ".join(f"{k}={v:.4f}{E2E_UNITS[k]}" for k, v in e2e.items()))
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        for q, rec in run.per_query.items():
            print(f"perfbench: layer {q} " + " ".join(
                f"{k}={v:.4g}" for k, v in rec.items()))
        out = ROOT / ".perfbench" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        with open(out / f"{run.tracer.run_id}.json", "w") as f:
            json.dump({"manifest": run.manifest, "spans": run.tracer.spans,
                       "per_query": run.per_query, "layers": run.layers}, f)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0 and not run.failures,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
