"""Every top-level function and class in the package has a caller.

A definition counts as referenced when some other code in the scan set
names it: a ``Name`` or ``Attribute`` node, an imported alias, or a
string constant spelling the identifier (registries, ``getattr``,
``__all__``).  References inside the definition's own body (recursion)
do not count.  There is no allowlist: an unwired helper is deleted,
not excused.
"""

from __future__ import annotations

import ast
import collections
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kp_crypto_market_analytics_spark"
SCAN = (PACKAGE, "tools", "perfbench", "tests", "bench.py", "__spark_entry__.py")


def _py_files():
    for entry in SCAN:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            yield path
            continue
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            yield from (
                os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")
            )


def _refs(tree: ast.AST) -> collections.Counter:
    out: collections.Counter = collections.Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
        elif isinstance(node, ast.alias):
            out.update(node.name.split("."))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out[node.value] += 1
    return out


def test_no_unreferenced_top_level_defs():
    total: collections.Counter = collections.Counter()
    defs = []  # (relpath, lineno, name, refs inside the definition)
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        rel = os.path.relpath(path, ROOT)
        in_package = rel.startswith(PACKAGE + os.sep)
        for node in tree.body:
            refs = _refs(node)
            total.update(refs)
            if in_package and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((rel, node.lineno, node.name, refs[node.name]))
    unreferenced = [
        f"{rel}:{lineno} {name}"
        for rel, lineno, name, own in defs
        if total[name] - own == 0
    ]
    assert not unreferenced, "unreferenced top-level definitions:\n" + "\n".join(
        unreferenced
    )
