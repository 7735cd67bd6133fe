"""Scalar function library (SURVEY §2.8).

The reference's scalar surface is inline Scala lambdas; the engine exposes
the same computations as named, Catalyst-optimizable Column builders. All
are thin wrappers over built-in ``pyspark.sql.functions`` — zero Python UDFs
(design rule, SURVEY §4): json access and the TPC-H revenue term.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_int(col: Column | str, path: str) -> Column:
    """props JSON access, e.g. json_int("props", "$.k")."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path).cast("int")


def revenue() -> Column:
    """The TPC-H revenue term used across bench queries."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))
