"""Building a plan stays cheap on the driver: every PySpark call that builds
a DataFrame is a Py4J round-trip to the JVM, so the engine session turns
off PySpark's per-call call-site capture, and higher-order functions are
written as one SQL expression each instead of a Python lambda per node."""

from __future__ import annotations

import ast
import threading
from pathlib import Path

from conftest import SF_SMOKE
from py4j.clientserver import ClientServerConnection

PACKAGE = Path(__file__).resolve().parent.parent / "apache_flink_essentials_spark"
HIGHER_ORDER = {"transform", "filter", "aggregate", "zip_with", "exists", "forall", "map_filter"}

# dedup_minhash_lsh at sf0.001 builds in 343 round-trips (1,635 with
# call-site capture on and lambda-built MinHash expressions); 25% headroom
MINHASH_BUILD_ROUND_TRIPS = 428


def test_engine_session_skips_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_minhash_build_round_trip_budget(spark, monkeypatch):
    from apache_flink_essentials_spark import registry

    build = registry.QUERIES["dedup_minhash_lsh"]
    build(spark, SF_SMOKE)  # warm-up: imports and first-use lookups
    sc = spark.sparkContext
    sc.setJobGroup("construction_budget", "construction_budget")
    calls = 0
    send = ClientServerConnection.send_command
    builder = threading.get_ident()

    def counting(self, command):
        # Py4J releases garbage-collected JVM references from a background
        # thread, at arbitrary times: only the building thread's commands
        # are the build's round-trips
        nonlocal calls
        calls += threading.get_ident() == builder
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build(spark, SF_SMOKE)
    monkeypatch.undo()
    assert sc.statusTracker().getJobIdsForGroup("construction_budget") == []
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < calls <= MINHASH_BUILD_ROUND_TRIPS, calls


def test_no_python_lambda_in_higher_order_functions():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.func.attr in HIGHER_ORDER
                and any(isinstance(a, ast.Lambda)
                        for a in [*node.args, *(k.value for k in node.keywords)])
            ):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno} F.{node.func.attr}")
    assert found == [], "write these as one SQL expression (F.expr): " + ", ".join(found)
