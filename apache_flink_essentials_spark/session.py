"""SparkSession factory — the engine's execution environment.

Covers the reference's execution-environment surface (SURVEY §2.7):
``StreamExecutionEnvironment.getExecutionEnvironment`` (reference
``DataStreams.scala:12``) maps to a configured ``SparkSession``. Parallelism
knobs (``setParallelism``, ``DataStreams.scala:62``) map to
``spark.sql.shuffle.partitions`` + AQE. The driver small-path gate
(`driver_small_path`), the small-input byte gate (`small_input`) and the
gate log live here too.

Scale posture: these defaults are tuned so the SAME logical plans scale from
local[`default_cpus()`] tests to a 1000-executor cluster — AQE handles
runtime partition coalescing and skew-join splitting; explicit
shuffle-partition counts are only a starting hint that AQE resizes from
actual map-output statistics.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Rows per shuffle partition inside the iterative graph loops (connected
# components, PageRank): ~2M slim rows ≈ 32 MB per partition.
LOOP_ROWS_PER_PARTITION = 2_000_000

# The driver small-path bound shared by every size-adaptive operator
# (connected components, both PageRanks, exact MMR, Theil-Sen, the
# triangle census): at or below one loop partition the distributed form
# runs in ONE task anyway, paying per-job scheduling floors for
# single-machine work, so the operator collects its (bounded) input and
# solves it on the driver.
DRIVER_MAX_ROWS = LOOP_ROWS_PER_PARTITION

# The small-input byte bound shared by every plan-shape choice made on
# source size: below it per-stage scheduling, not data, dominates, so the
# operator takes its single-partition or non-materialising form.
SMALL_INPUT_BYTES = 64 << 20

# The stream checkpoint manager `get_spark` picks for a local-mode session
# on local disk (see its docstring).
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                         "FileSystemBasedCheckpointFileManager")

# The `file:` file system `get_spark` serves on a local-mode session (see
# its docstring): its Java source, and where its compiled classes are kept,
# one directory per source hash and Hadoop jar.
LOCAL_FS_CONF = "spark.hadoop.fs.file.impl"
LOCAL_FS_CLASS = "apache_flink_essentials_spark.jvm.NioLocalFileSystem"
_LOCAL_FS_SOURCE = Path(__file__).parent / "jvm" / "NioLocalFileSystem.java"
_LOCAL_FS_CACHE = _LOCAL_FS_SOURCE.parent / "classes"

# One line per adaptive-gate decision: gate, rows or bytes, bound, path.
GATE_LOG = logging.getLogger("apache_flink_essentials_spark.gates")


def log_gate(gate: str, rows: int, bound: int, path: str) -> None:
    """Record one adaptive-gate decision on `GATE_LOG` (INFO level)."""
    GATE_LOG.info("gate %s: rows=%d bound=%d path=%s", gate, rows, bound, path)


def driver_small_path(gate: str, rows: int) -> bool:
    """True when an operator should solve its ``rows``-row input on the
    driver (``rows <= DRIVER_MAX_ROWS``); logs the decision. ``rows`` is
    a count the caller has already measured, so the gate costs no job."""
    small = rows <= DRIVER_MAX_ROWS
    log_gate(gate, rows, DRIVER_MAX_ROWS, "driver" if small else "distributed")
    return small


def _local_bytes(files: list[str]) -> int | None:
    """Total byte size of ``files``, or None when there are none or any
    is remote (s3/hdfs) or unstatable."""
    from urllib.parse import unquote, urlparse

    if not files or not all(f.startswith("file:") for f in files):
        return None
    try:
        return sum(os.stat(unquote(urlparse(f).path)).st_size for f in files)
    except OSError:
        return None


def _estimated_input_bytes(df: DataFrame) -> int | None:
    """`_local_bytes` of the plan's leaf-scan files. ``inputFiles()`` only
    resolves the logical plan and lists them: no physical planning."""
    try:
        return _local_bytes(df.inputFiles())
    except Exception:
        return None


def small_input(gate: str, df: DataFrame) -> bool:
    """True when ``df``'s local source files prove it smaller than
    `SMALL_INPUT_BYTES`; an unknown (remote, in-memory) size is not
    small. Logs the decision, the size as ``unknown`` when there is
    none. Costs one ``inputFiles()`` probe, no job."""
    size = _estimated_input_bytes(df)
    small = size is not None and size < SMALL_INPUT_BYTES
    GATE_LOG.info("gate %s: bytes=%s bound=%d path=%s", gate,
                  "unknown" if size is None else size, SMALL_INPUT_BYTES,
                  "small" if small else "large")
    return small


def driver_frame(spark: SparkSession, columns: dict, schema) -> DataFrame:
    """A driver small path's result: ``columns`` (name → list or numpy
    array, in ``schema`` order) shipped to the JVM as one Arrow table.
    ``createDataFrame`` over a Python list (and over pandas when the
    session's Arrow setting is off) runs a Python worker in every task
    each time the result executes; an Arrow table never does."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


def default_cpus() -> int:
    """local[N] and the default shuffle width: ``SPARK_GRAFT_CPUS``, else
    the cpus this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


@functools.cache
def _local_fs_classes() -> str | None:
    """The class directory holding `LOCAL_FS_CLASS`, compiled on first use
    with ``javac --release 17`` against the Hadoop client jar of the Spark
    home the session launches from. The classes are written to a temp
    directory inside `_LOCAL_FS_CACHE`, then renamed into place, so a
    concurrent compile never leaves a partial directory. None, logged
    once per process, when javac or the jar is missing or the compile
    fails."""
    from pyspark.find_spark_home import _find_spark_home

    log = logging.getLogger(__name__)
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars",
                                         "hadoop-client-api-*.jar")))
    javac = shutil.which("javac")
    if not jars or javac is None:
        log.warning("no %s: keeping Hadoop's local file system",
                    "javac" if jars else "hadoop-client-api jar")
        return None
    jar = jars[-1]
    key = hashlib.sha256(_LOCAL_FS_SOURCE.read_bytes()
                         + os.path.basename(jar).encode()).hexdigest()[:16]
    classes = _LOCAL_FS_CACHE / key
    if classes.is_dir():
        return str(classes)
    try:
        _LOCAL_FS_CACHE.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=_LOCAL_FS_CACHE, prefix=".tmp-",
                                         ignore_cleanup_errors=True) as tmp:
            subprocess.run([javac, "--release", "17", "-cp", jar, "-d", tmp,
                            str(_LOCAL_FS_SOURCE)], check=True, capture_output=True)
            try:
                os.rename(tmp, classes)
            except OSError:  # another process renamed its copy in first
                pass
    except (OSError, subprocess.CalledProcessError) as e:
        log.warning("compiling %s failed (%s): keeping Hadoop's local file "
                    "system", _LOCAL_FS_SOURCE.name, e)
        return None
    return str(classes)


def _local_fs_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """Builder settings that serve ``file:`` through `LOCAL_FS_CLASS` on a
    ``local``/``local[N]`` master: the class directory appended to the
    caller's ``spark.driver.extraClassPath``, and `LOCAL_FS_CONF`. Empty
    for any other master, when the caller sets `LOCAL_FS_CONF` itself, when
    the class does not compile, or when this process's JVM is already
    running: its classpath is fixed, so it keeps whatever it launched
    with."""
    from pyspark import SparkContext

    if (LOCAL_FS_CONF in extra_conf or SparkContext._jvm is not None
            or not (master == "local" or master.startswith("local["))):
        return {}
    classes = _local_fs_classes()
    if classes is None:
        return {}
    cp = extra_conf.get("spark.driver.extraClassPath")
    return {"spark.driver.extraClassPath": f"{cp}{os.pathsep}{classes}" if cp else classes,
            LOCAL_FS_CONF: LOCAL_FS_CLASS}


def get_spark(
    app_name: str = "apache-flink-essentials-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Configuration rationale, keyed to the 100 TB design goal:
      * AQE on (+ coalescePartitions + skewJoin): runtime re-planning replaces
        hand-tuned partition counts; skewed join keys are split automatically.
      * autoBroadcastJoinThreshold stays default (10 MB) — dimension tables
        (region/nation/supplier) broadcast automatically; we additionally hint
        with ``broadcast()`` where the dimension is known small.
      * Arrow enabled for every pandas-UDF boundary (the only Python-side
        hot paths we allow: stateful ops + vector UDFs).
      * Session timezone pinned to UTC so event-time semantics are
        deterministic and match the DuckDB oracle (naive timestamps = UTC).
      * ``spark.python.sql.dataFrameDebugging.enabled=false``: with it on,
        PySpark captures the Python call site of every ``F.*``/DataFrame
        call and ships it to the JVM — about 5 extra Py4J round-trips per
        call (active-session lookup, a reflective ``PySparkCurrentOrigin``
        lookup, a conf read, set, clear), about half of all plan-building
        round-trips. PySpark reads the conf once per process, on the
        first wrapped call made with an active session, so it must be a
        builder setting, not a later ``spark.conf.set``. Lost with it:
        runtime errors (an ANSI overflow, say) no longer carry the Python
        file:line in their query context. Analysis is eager in classic
        mode, so analysis errors still raise at the building line.
        Sessions the engine does not build (an external driver's own
        session) keep PySpark's default.
      * Stream checkpoints go through Spark's FileSystem-based checkpoint
        manager (`FS_CHECKPOINT_MANAGER`) when the session runs in local
        mode and its ``fs.defaultFS`` is ``file:``. Spark's default,
        FileContext-based manager renames every checkpoint file (offsets,
        commits, sink log, each state-store delta and its checksum)
        through Hadoop's ``RawLocalFileSystem.getFileLinkStatus``; without
        libhadoop that forks a ``readlink`` process for both ends of each
        rename, about 3 ms each. Over one traced 4-cpu ``stream_replay``
        run (five drains), JFR counted 3,656 ``readlink`` forks with the
        default manager and none with this one, and per-batch
        ``state_commit_ms`` fell from 245–291 ms to 13–16 ms. On
        ``file:`` both managers do the same: an exists check, then one
        rename(2), and both write the same ``N.delta``, ``N.delta.crc``
        and ``.N.delta.crc`` files. Precondition: a local-mode session
        keeps its stream checkpoints on local disk (on an object store
        this manager's rename is not atomic). Cluster sessions keep
        Spark's default, and ``extra_conf`` still overrides the choice.
      * A local-mode session (``local`` or ``local[N]``, not
        ``local-cluster``) serves ``file:`` through `LOCAL_FS_CLASS`,
        Hadoop's ``LocalFileSystem`` whose raw layer sets permissions
        with ``java.nio`` instead of ``RawLocalFileSystem.setPermission``.
        Without libhadoop that method forks a ``chmod`` for every file
        Hadoop creates (each parquet part file, checkpoint offset,
        commit, sink log entry and state delta, and each one's ``.crc``)
        and every directory it makes, about 3 ms each and about 460 per
        ``stream_replay`` drain; no Hadoop setting avoids it. Checksums,
        the mode bits set and every other call are Hadoop's own; a
        sticky bit or a non-POSIX file store takes the stock ``chmod``
        path. Precondition: local mode, where executors share the
        driver's JVM and so its classpath; cluster sessions keep Hadoop's
        stock file system. The class is compiled once per source and
        Hadoop jar (about 1 s) into ``jvm/classes/<hash>/`` next to
        its source, appended to the caller's
        ``spark.driver.extraClassPath`` and named in
        ``spark.hadoop.fs.file.impl``; ``extra_conf`` setting that key
        wins. Without ``javac`` the session keeps the stock file system
        and logs it once.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    extra_conf = extra_conf or {}
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # JDK 17 + local[32] + parquet readers: allocation-heavy stages can
        # die with a SPURIOUS "Retried waiting for GCLocker too often" OOM
        # while heap is free — 32 threads keep re-entering JNI critical
        # sections (parquet page decompression) so the retried allocation
        # never sees a completed GC (observed killing a 64.5M-row stage at
        # 8g that succeeds with headroom). Raising the retry count from the
        # default 2 lets the allocation wait out the critical sections
        # instead of throwing; no effect on genuinely-exhausted heaps.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"))
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # spark.sql.files.* left at defaults: a measured A/B showed the
        # once-installed global openCostInBytes=128KB bought nothing
        # (totals within 0.4% either way). If a single CPU-heavy scan
        # wants narrower splits, set spark.sql.files.openCostInBytes via
        # spark.conf.set inside that query (it is runtime-settable) and
        # restore after — never globally.
    )
    for k, v in {**extra_conf, **_local_fs_conf(master, extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    if (CHECKPOINT_MANAGER_CONF not in extra_conf
            and sc.master.startswith("local")
            and sc._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///").startswith("file:")):
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    return spark


def loop_partitions(cap: int, rows: int) -> int:
    """Shuffle partitions for one loop round over ``rows`` rows: one per
    `LOOP_ROWS_PER_PARTITION`, at least 1, at most ``cap`` (the session's
    own setting)."""
    return max(1, min(cap, -(-rows // LOOP_ROWS_PER_PARTITION)))


@contextmanager
def loop_conf(spark: SparkSession, partitions: int):
    """AQE off and ``partitions`` shuffle partitions while held; the
    session's own settings come back on exit.

    The iterative graph loops run under it: AQE splits every exchange
    materialization into its own job and buys nothing on a loop's
    equal-width keyed shuffles, so the loop sizes its partitions from a
    measured row count (`loop_partitions`) instead. Session-level: a query
    running concurrently on the same session would see these settings too
    (no caller in this package shares its session that way)."""
    conf = spark.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    sp = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe)
        conf.set("spark.sql.shuffle.partitions", sp)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
