"""Window frames stay linear per key. Spark grows a frame that starts at
UNBOUNDED PRECEDING row by row, but recomputes a frame that runs to
UNBOUNDED FOLLOWING from any other lower bound for every row: O(n²) per
key. Such a frame is written over the reversed order instead, as an
``(unboundedPreceding, k)`` frame (see `patterns.match_absence` and
`timeseries.gapfill_interpolate`)."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "apache_flink_essentials_spark"


def _bound(node: ast.AST) -> str | None:
    """``unboundedPreceding``/``unboundedFollowing`` for a
    ``Window.<name>`` (or bare ``<name>``) expression, else None."""
    name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
    return name if name in ("unboundedPreceding", "unboundedFollowing") else None


def per_row_following_frames(source: str) -> list[int]:
    """Line numbers of ``rowsBetween``/``rangeBetween`` calls in ``source``
    whose upper bound is ``unboundedFollowing`` and whose lower bound is
    not ``unboundedPreceding``."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("rowsBetween", "rangeBetween")):
            continue
        args = dict(zip(("start", "end"), node.args))
        args.update((k.arg, k.value) for k in node.keywords)
        if ("end" in args and _bound(args["end"]) == "unboundedFollowing"
                and ("start" not in args or _bound(args["start"]) != "unboundedPreceding")):
            lines.append(node.func.end_lineno)
    return lines


def test_guard_flags_only_per_row_following_frames():
    src = (
        "w.rowsBetween(1, Window.unboundedFollowing)\n"
        "w.rangeBetween(start=Window.currentRow, end=Window.unboundedFollowing)\n"
        "w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)\n"
        "w.rowsBetween(Window.unboundedPreceding, -1)\n"
        "w.rowsBetween(-3, Window.currentRow)\n"
    )
    assert per_row_following_frames(src) == [1, 2]


def test_no_per_row_following_frame_in_package():
    found = [
        f"{path.relative_to(PACKAGE)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line in per_row_following_frames(path.read_text())
    ]
    assert found == [], (
        "frames running to unboundedFollowing are recomputed per row; "
        "use the reversed order with an (unboundedPreceding, k) frame: "
        + ", ".join(found))
