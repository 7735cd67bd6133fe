"""Skew mitigation utilities.

First line of defense is AQE (enabled in session.py): skewed shuffle/join
partitions are split at runtime from map-output statistics. These helpers
cover the cases AQE can't fix:

  * ``salted_agg`` — a single hot GROUP BY key (AQE can split a partition,
    but one key still lands in one reducer): two-phase aggregation through a
    deterministic salt.
  * ``replicate_join_skewed`` — hot join keys with a non-broadcastable but
    bounded right side: salt the left, replicate the right per salt.
  * ``hot_bucket_salted_join`` — the ADAPTIVE form for bucketed self-joins
    (LSH bands, sign buckets): only keys the collected hot set marks are
    salted, with a per-key slice count, because AQE's skew-join splits by
    partition BYTES while a quadratic within-bucket compare is
    COMPUTE-skewed at tiny byte sizes (a ~1 MB bucket of 50k slim rows is
    n² popcounts in ONE task — the r12 sf1 curve measured 3 stragglers
    carrying a 32-task stage for ~25 min until this landed).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_flink_essentials_spark.session import driver_frame, log_gate


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partials: dict[str, tuple[str, Column]],
    salt_from: Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for hot keys: groupBy(keys + salt) computes
    partials across n_salts reducers, then a cheap second agg merges per key.

    ``partials``: out_name → (merge_op in {sum, min, max}, partial_expr).
    counts are expressed as sum-merged count partials. ``salt_from`` must be
    deterministic (hash of some non-key column) so results are replayable.
    """
    salt = F.pmod(F.xxhash64(salt_from), F.lit(n_salts)).alias("_salt")
    first = df.groupBy(*[F.col(k) for k in keys], salt).agg(
        *[expr.alias(f"_p_{name}") for name, (_op, expr) in partials.items()]
    )
    merge_fns = {"sum": F.sum, "min": F.min, "max": F.max}
    second = first.groupBy(*[F.col(k) for k in keys]).agg(
        *[
            merge_fns[op](f"_p_{name}").alias(name)
            for name, (op, _expr) in partials.items()
        ]
    )
    return second


def replicate_join_skewed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_from: Column,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join with a salted key: left rows scatter across n_salts
    sub-partitions per key; right rows replicate n_salts× (explode) so every
    (key, salt) pair finds its match. Correct for inner equi-joins; use when
    the hot key's left side overwhelms one reducer and the right side is too
    big to broadcast but small enough to replicate n× ."""
    l = left.withColumn("_salt", F.pmod(F.xxhash64(salt_from), F.lit(n_salts)))
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long")))
    )
    return l.join(r, on=[key, "_salt"], how="inner").drop("_salt")


# The salting gate, defined once for every hot-bucket join: a key is hot
# when more than SALT_THRESHOLD ``a`` rows share it, and a hot key gets
# ceil(n_k / SALT_THRESHOLD) slices, at most SALT_MAX_SLICES. Up to
# SALT_MAX_INLINE_HOT hot keys ride inline as a map literal; more join
# back as a broadcast relation.
SALT_THRESHOLD = 4096
SALT_MAX_SLICES = 64
SALT_MAX_INLINE_HOT = 64


def hot_bucket_salted_join(
    a: DataFrame,
    b: DataFrame,
    key: str,
    id_a: str = "id_a",
) -> DataFrame:
    """Self-band-join ``a ⋈ b ON key`` with deterministic salting of hot
    band buckets only. ``a`` must carry one row per corpus element — its
    per-key counts define the hot set (count > `SALT_THRESHOLD`), which
    is aggregate-sized by construction (≤ corpus/threshold keys). Hot
    keys get ``S_k = ceil(n_k/SALT_THRESHOLD) ≤ SALT_MAX_SLICES``
    slices: ``a`` rows take slice ``pmod(xxhash64(id_a), S_k)``, ``b``
    rows replicate across all ``S_k`` slices; cold keys keep salt 0 and
    zero replication. Every (a, b) row combination meets in exactly one
    slice, so join output is identical to the unsalted form — only the
    task-level distribution of the quadratic compare changes.

    Self-funding at low skew: the hot set is COLLECTED up front (one
    aggregate job over ``a`` — the only one: the broadcast form below
    ships the collected rows, it never re-runs the aggregate) and the
    plan adapts, logging its choice as the ``salt_join`` gate
    (`session.log_gate`: hot keys vs `SALT_MAX_INLINE_HOT`):

      * no hot keys (the common case): the plain unsalted equi-join —
        zero salt columns, zero extra joins in the plan;
      * ≤ `SALT_MAX_INLINE_HOT` hot keys: the per-key slice counts inline
        as ONE map literal (an O(|hot|) lookup per row — trivial at the
        64-key cap), still no join against the hot set;
      * more (a pathologically hot corpus): the collected hot set joins
        back as a broadcast relation (a broadcast holds it on the driver
        anyway, so the collect adds no driver memory).
    """
    hot = (
        # null keys never survive the equi-join, and a null map key would
        # be rejected by create_map — exclude them from the hot set
        a.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > SALT_THRESHOLD)
        .select(
            key,
            F.least(
                F.ceil(F.col("_n") / F.lit(SALT_THRESHOLD)),
                F.lit(SALT_MAX_SLICES),
            ).cast("int").alias("_slices"),
        )
    )
    hot_rows = hot.collect()
    path = (
        "plain" if not hot_rows
        else "inline" if len(hot_rows) <= SALT_MAX_INLINE_HOT
        else "broadcast"
    )
    log_gate("salt_join", len(hot_rows), SALT_MAX_INLINE_HOT, path)
    if path == "plain":
        return a.join(b, on=key)
    if path == "inline":
        mapping = F.create_map(
            *[
                lit
                for r in hot_rows
                for lit in (F.lit(r[0]), F.lit(int(r[1])))
            ]
        )
        a2 = a.withColumn("_slices", F.element_at(mapping, F.col(key)))
        b2 = b.withColumn("_slices", F.element_at(mapping, F.col(key)))
    else:
        cols = {f.name: [r[i] for r in hot_rows] for i, f in enumerate(hot.schema)}
        hot = F.broadcast(driver_frame(a.sparkSession, cols, hot.schema))
        a2 = a.join(hot, on=key, how="left")
        b2 = b.join(hot, on=key, how="left")
    slices = F.col("_slices")
    a2 = a2.withColumn(
        "_salt",
        F.when(
            slices.isNotNull(),
            F.pmod(F.xxhash64(F.col(id_a)), slices).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("_slices")
    b2 = b2.withColumn(
        "_salt",
        F.explode(
            F.when(
                slices.isNotNull(), F.sequence(F.lit(0), slices - F.lit(1))
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("_slices")
    return a2.join(b2, on=[key, "_salt"]).drop("_salt")
