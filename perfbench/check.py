"""Output checks: each result is compared, order-insensitively, with a
reference computed by DuckDB over the same parquet files.

Batch queries use ``registry.ORACLES``. ``ts_ewma_anomaly``'s oracle is a
recursive CTE whose iteration count is the longest per-user series, which
makes it slow on a hot key, so its recursion is replayed here in Python over
DuckDB's ordered base rows with the oracle's exact arithmetic. Stream
results are compared with the batch answer for the same events.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.compute as pc


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        v = round(v, 9)  # before the integral test: 4999.9999999999 rounds to 5000.0
        return int(v) if v == int(v) and abs(v) < 2**53 else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat() if v.tzinfo is None else (
            v.astimezone(dt.timezone.utc).replace(tzinfo=None).isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def rows(table: pa.Table) -> Counter:
    """Multiset of canonical rows over name-sorted columns."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return Counter(tuple(_canon(v) for v in r) for r in zip(*data))


def digest(counter: Counter) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(x) for x in counter.elements()):
        h.update(r.encode())
    return h.hexdigest()[:16]


def compare(name: str, got: pa.Table, want: pa.Table) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"{name}: columns {sorted(got.column_names)} != {sorted(want.column_names)}"
    g, w = rows(got), rows(want)
    if digest(g) == digest(w):
        return None
    extra, missing = list((g - w).elements())[:2], list((w - g).elements())[:2]
    return (f"{name}: {got.num_rows} rows vs {want.num_rows} expected, "
            f"unexpected {extra}, missing {missing}")


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    return con


def _ewma_anomaly(con) -> pa.Table:
    """ts_ewma_anomaly's oracle: same base rows and the same left-to-right
    double arithmetic as its recursive CTE, folded per user in Python."""
    base = con.execute("""
        SELECT user_id, floor(epoch(ts))::BIGINT AS ts_s, value::DOUBLE AS x
        FROM events ORDER BY user_id, ts_s, x""").fetchall()
    out = {"user_id": [], "ts_s": [], "value": [], "ewma": [], "is_anomaly": []}
    prev = None
    for user, ts_s, x in base:
        if user != prev:
            prev, ewma, ewvar, anomaly = user, x, 0.0, False
        else:
            d = x - ewma
            anomaly = ewvar > 0.0 and d * d > 3.0 * 3.0 * ewvar
            ewma, ewvar = ewma + 0.3 * d, (1.0 - 0.3) * (ewvar + 0.3 * d * d)
        for k, v in zip(out, (user, ts_s, x, ewma, anomaly)):
            out[k].append(v)
    return pa.table(out)


def expected(con, name: str, oracles: dict[str, str]) -> pa.Table | None:
    if name == "ts_ewma_anomaly":
        return _ewma_anomaly(con)
    sql = oracles.get(name)
    return con.execute(sql).arrow() if sql else None


ROLLUP_SQL = """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
           count(*) AS n, sum(value) AS total
    FROM events GROUP BY 1"""

SESSION_SQL = """
    WITH e AS (SELECT user_id, floor(epoch(ts))::BIGINT AS t FROM events),
    g AS (SELECT user_id, t,
                 CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                      > {gap} THEN 1 ELSE 0 END AS brk FROM e),
    s AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS sid FROM g)
    SELECT user_id::VARCHAR AS key, min(t) AS session_start,
           max(t) AS session_end, count(*) AS n_events
    FROM s GROUP BY user_id, sid"""


def rollup_table(t: pa.Table) -> pa.Table:
    """The rollup sink's rows as (window_start epoch s, n, total)."""
    ws = t.column("window_start").cast(pa.timestamp("us")).cast(pa.int64())
    return pa.table({"window_start": pc.divide(ws, 1_000_000),
                     "n": t.column("n"), "total": t.column("total")})
