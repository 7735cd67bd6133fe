"""Scalar function library (SURVEY §2.8).

The reference's scalar surface is inline Scala lambdas; the engine exposes
the same computations as named, Catalyst-optimizable Column builders. All
are thin wrappers over built-in ``pyspark.sql.functions`` — zero Python UDFs
(design rule, SURVEY §4): json access and the TPC-H revenue term.

Higher-order functions (``transform``, ``filter``, ``aggregate``,
``zip_with``, ...) are written as SQL text and built with ONE ``F.expr``:
a Python lambda costs a driver round-trip per node of its body, a SQL
string one parse. `sql_ident`, `sql_str` and `sql_in` quote what goes
into that text.
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


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (any column name)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """``s`` as a SQL string literal: backslashes and quotes escaped, so a
    regex or any text arrives in the expression unchanged."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_in(expr: str, values) -> str:
    """SQL predicate: ``expr`` is one of the strings ``values`` (``false``
    for none — ``IN ()`` does not parse)."""
    return f"{expr} IN ({', '.join(map(sql_str, values))})" if values else "false"
