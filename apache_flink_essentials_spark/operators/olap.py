"""Multi-dimensional OLAP aggregation: ROLLUP, CUBE, GROUPING SETS, pivot.

The reference's aggregation surface is single-level keyed reduces
(`/root/reference/src/main/scala/essentialsstreams/WindowFunctions.scala`
keyed window counts); an analytics engine additionally needs the
multi-grain rollups every BI layer issues. These are thin, declarative
wrappers over Spark's native `rollup`/`cube`/SQL `GROUPING SETS` — one
Expand + one hash aggregate, NO union-of-aggregates — so Catalyst keeps
map-side partial aggregation and a single shuffle regardless of how many
grains are requested.

Scale notes (100 TB): `Expand` multiplies rows by the number of grouping
sets BEFORE the exchange, but partial aggregation collapses them to
(distinct keys × sets) immediately, so the shuffle carries only aggregated
partials. For high-cardinality dimension combinations prefer an explicit
GROUPING SETS list over `cube` (2^n sets). Pivot with an explicit value
list avoids the extra distinct-scan Spark otherwise runs to discover
columns, and compiles to ONE pivot hash-aggregate, not one agg per column.

Portability: `grouping_id`-derived NULL-marker flags are surfaced as
INT 0/1 per dimension (Spark's `grouping()` ≡ DuckDB's `GROUPING()`),
because the packed `grouping_id()` bit order is engine-specific.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rollup_agg(
    df: DataFrame,
    dims: Sequence[str],
    aggs: Mapping[str, Column],
) -> DataFrame:
    """ROLLUP over ``dims`` (hierarchical grains: (d1..dn), (d1..dn-1), …,
    ()), with one ``g_<dim>`` 0/1 flag per dimension distinguishing a real
    NULL key from a rolled-up subtotal row.
    """
    out = df.rollup(*dims).agg(
        *[c.alias(name) for name, c in aggs.items()],
        *[F.grouping(d).cast("int").alias(f"g_{d}") for d in dims],
    )
    return out


def cube_agg(
    df: DataFrame,
    dims: Sequence[str],
    aggs: Mapping[str, Column],
) -> DataFrame:
    """CUBE over ``dims`` — all 2^n grains in one Expand + one aggregate."""
    return df.cube(*dims).agg(
        *[c.alias(name) for name, c in aggs.items()],
        *[F.grouping(d).cast("int").alias(f"g_{d}") for d in dims],
    )


def grouping_sets_agg(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    dims: Sequence[str],
    agg_sql: Mapping[str, str],
) -> DataFrame:
    """Explicit GROUPING SETS — the scale-safe spelling when only a few of
    the 2^n cube grains are wanted. ``dims`` is the union of dimension
    columns; ``agg_sql`` maps output alias → SQL aggregate expression.

    Goes through SQL because the DataFrame API has no groupingSets handle;
    the plan is identical (single Expand + hash aggregate).
    """
    df.createOrReplaceTempView("_gs_input")
    sets_sql = ", ".join("(" + ", ".join(s) + ")" for s in sets)
    select = ", ".join(
        [*dims]
        + [f"{expr} AS {alias}" for alias, expr in agg_sql.items()]
        + [f"CAST(GROUPING({d}) AS INT) AS g_{d}" for d in dims]
    )
    return df.sparkSession.sql(
        f"SELECT {select} FROM _gs_input GROUP BY GROUPING SETS ({sets_sql})"
    )


def pivot_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    values: Sequence[str],
    agg: Column,
    fill: object | None = None,
) -> DataFrame:
    """Long→wide pivot with an EXPLICIT value list (no discovery scan):
    one hash aggregate producing ``len(values)`` measure columns.

    Equivalent to per-value conditional aggregation (the oracle spelling) —
    Spark compiles pivot to exactly that internally.
    """
    out = df.groupBy(*group_cols).pivot(pivot_col, list(values)).agg(agg)
    if fill is not None:
        out = out.fillna(fill, subset=list(values))
    return out


# ---- incremental materialized-rollup maintenance ----------------------------
#
# The continuous-aggregate pattern (TimescaleDB continuous aggregates /
# Flink's upsert sinks): a persisted rollup table is refreshed from a DELTA
# batch by merging mergeable aggregate states, never by re-scanning the
# 100 TB base table. Correctness rests on the aggregates being
# DECOMPOSABLE: count/sum merge by +, min/max by min/max; avg is carried as
# (sum, count) and finalized at read time.


def additive_rollup(
    df: DataFrame,
    key_cols: Sequence[str],
    sum_cols: Mapping[str, Column] | None = None,
    min_cols: Mapping[str, Column] | None = None,
    max_cols: Mapping[str, Column] | None = None,
) -> DataFrame:
    """One grain of a maintainable rollup: per key, row count plus named
    sum/min/max states. The OUTPUT SCHEMA doubles as the MERGE STATE —
    every column is mergeable, so `merge_rollups` can fold any number of
    partial rollups (yesterday's table + today's delta + a backfill batch)
    without touching base rows."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for name, c in (sum_cols or {}).items():
        aggs.append(F.sum(c).alias(name))
    for name, c in (min_cols or {}).items():
        aggs.append(F.min(c).alias(name))
    for name, c in (max_cols or {}).items():
        aggs.append(F.max(c).alias(name))
    return df.groupBy(*key_cols).agg(*aggs)


def merge_rollups(
    parts: Sequence[DataFrame],
    key_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge rollup partials produced by `additive_rollup` into one rollup
    equal to aggregating the union of their inputs.

    Plan shape: union → ONE hash aggregate keyed on the rollup keys. The
    exchange carries rollup rows (distinct keys × parts), never base rows —
    at 100 TB the delta partial is typically 1e6× smaller than the base
    table, and Spark's partial aggregation merges same-key rows map-side
    before the shuffle. If the persisted side is bucketed on the keys
    (io.write_bucketed), the merge is shuffle-free on that side.
    """
    if not parts:
        raise ValueError("parts must be non-empty")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    aggs = [F.sum("n_rows").alias("n_rows")]
    aggs += [F.sum(c).alias(c) for c in sum_cols]
    aggs += [F.min(c).alias(c) for c in min_cols]
    aggs += [F.max(c).alias(c) for c in max_cols]
    return merged.groupBy(*key_cols).agg(*aggs)
