"""Dead-code guard: every top-level function and class in the package must
be referenced somewhere outside its own definition — by the package, the
tests, the examples, the scripts, the benchmark harness or the driver
entry. A reference is a name, an attribute, an import, or a mention in a
string (a docstring cross-reference or a name looked up by string).

Pure AST scan, no Spark: it runs in well under a second."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "apache_flink_essentials_spark"
_WORD = re.compile(r"[A-Za-z_]\w*")


def _scanned_files() -> list[Path]:
    dirs = [PACKAGE, ROOT / "tests", ROOT / "examples", ROOT / "scripts",
            ROOT / "perfbench"]
    files = [f for d in dirs for f in sorted(d.rglob("*.py"))]
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _references(node: ast.AST) -> Counter:
    refs: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            refs.update(_WORD.findall(n.value))
    return refs


def test_every_top_level_definition_is_referenced():
    total: Counter = Counter()
    defs: list[tuple[str, int, str, Counter]] = []
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), str(path))
        in_package = PACKAGE in path.parents
        for stmt in tree.body:
            refs = _references(stmt)
            total.update(refs)
            if in_package and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                rel = str(path.relative_to(ROOT))
                defs.append((rel, stmt.lineno, stmt.name, refs))
    dead = [
        f"{rel}:{line} {name}"
        for rel, line, name, own in defs
        if total[name] - own[name] == 0
    ]
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
