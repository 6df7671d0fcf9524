"""No name in the package that only tests reach.

Every module-level ``def`` and ``class`` (private helpers too) and every
public method of a module-level class in ``lakehouse_poc_spark/`` must
be used by a file outside ``tests/``. A use is an attribute access, a
string constant (a by-name list such as perfbench's instrumentation, a
``getattr``) or, for module-level names only, a bare name: a method is
never called through a bare name, so a local variable that shares its
name (``history`` in ``operators/scd2.py``) does not count. An
``import`` does not count either. A ``@query`` function is reached: the
registry calls it, under its registered name. A name shared by two
definitions counts for both, so the check can miss but never flag
falsely.

A new public name needs a caller outside ``tests/`` or an entry in
``_TEST_ONLY_ALLOWED`` with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
_PACKAGE = "lakehouse_poc_spark"
_CALLER_ROOTS = (_PACKAGE, "tools", "perfbench", "bench.py", "__spark_entry__.py")
# Reached only by tests on purpose: the reason, or the ROADMAP
# direction that decides it.
_TEST_ONLY_ALLOWED = {
    "pushFilters": "Spark's filter-pushdown hook (TsvCorpusReader)",
    "abort": "Spark's failed-write hook (AvroWriter, TsvCorpusWriter)",
    "reader": "Spark's DataSource read hook (Avro, TSV corpus)",
    "writer": "Spark's DataSource write hook (Avro, TSV corpus)",
    "eval": "Spark's Python UDTF row hook (RegexSpans)",
    "history": "direction 7: operation metrics surface through history()",
    "run_with_metrics": "direction 7: every stream runner records progress",
    "stream_tws_user_stats": "needs google.protobuf, not a dependency; its test skips",
}


def _py_files(root: str) -> list[Path]:
    p = _REPO / root
    files = [p] if p.is_file() else sorted(p.rglob("*.py"))
    return [f for f in files if "tests" not in f.relative_to(_REPO).parts]


def _is_query(fn: ast.AST) -> bool:
    for d in fn.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if getattr(d, "id", getattr(d, "attr", None)) == "query":
            return True
    return False


def _definitions() -> tuple[dict[str, list[str]], dict[str, list[str]]]:
    """(module-level names, public method names) -> where defined."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    top: dict[str, list[str]] = {}
    methods: dict[str, list[str]] = {}
    for f in _py_files(_PACKAGE):
        rel = f.relative_to(_REPO)
        for node in ast.parse(f.read_text()).body:
            if not isinstance(node, (*funcs, ast.ClassDef)) or _is_query(node):
                continue
            top.setdefault(node.name, []).append(f"{rel}:{node.lineno}")
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, funcs) and not m.name.startswith("_"):
                        methods.setdefault(m.name, []).append(
                            f"{node.name} ({rel}:{m.lineno})"
                        )
    return top, methods


def _uses_outside_tests() -> tuple[set[str], set[str]]:
    """(attribute and string uses, bare-name uses)."""
    attrs: set[str] = set()
    names: set[str] = set()
    for root in _CALLER_ROOTS:
        for f in _py_files(root):
            for node in ast.walk(ast.parse(f.read_text())):
                if isinstance(node, ast.Attribute):
                    attrs.add(node.attr)
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    attrs.add(node.value)
                elif isinstance(node, ast.Name):
                    names.add(node.id)
    return attrs, names


def test_every_package_name_has_a_caller_outside_tests():
    top, methods = _definitions()
    assert {"Warehouse", "IcebergMetaWarehouse"} <= set(top)
    attrs, names = _uses_outside_tests()
    test_only = {n: w for n, w in top.items() if n not in attrs | names}
    for n, w in methods.items():
        if n not in attrs:
            test_only.setdefault(n, []).extend(w)
    unexpected = {n: w for n, w in test_only.items() if n not in _TEST_ONLY_ALLOWED}
    assert not unexpected, (
        f"only tests reach {unexpected}: delete them, give them a caller, "
        "or allow-list them with a reason"
    )
    stale = sorted(set(_TEST_ONLY_ALLOWED) - set(test_only))
    assert not stale, f"allow-listed names now reached or gone: {stale}"
