"""Every undecorated top-level function or class in the package has a user.

A definition counts as used when code outside its own body names it — a
name, an attribute or an identifier-shaped string constant (a ``getattr``
target) — anywhere in the package, the tests, the tools, the benchmark
harness, ``bench.py`` or ``__spark_entry__.py``. Inside the package,
import statements and ``__all__`` lists only re-publish a name, so they
are not uses; the other files are read from their compiled code objects
(cheaper than an AST), where any name counts. Decorated definitions
(registered queries, UDFs) are reached through their decorator and are
skipped. No Spark and no import of the package.
"""

from __future__ import annotations

import ast
import os
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_excel_csv_sql_spark"
USERS = ("tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _py_files(entry: str) -> list[str]:
    path = os.path.join(ROOT, entry)
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def _ast_names(node: ast.AST) -> set[str]:
    used = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            used.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            used.add(sub.attr)
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            if sub.value.isidentifier():
                used.add(sub.value)
    return used


def _code_names(code: types.CodeType, used: set[str]) -> set[str]:
    used.update(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            _code_names(const, used)
        for s in const if isinstance(const, tuple) else (const,):
            if isinstance(s, str) and s.isidentifier():
                used.add(s)
    return used


def _is_all(stmt: ast.stmt) -> bool:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [
        getattr(stmt, "target", None)
    ]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def unreferenced() -> list[str]:
    """``module:name`` of every undecorated top-level definition in the
    package that nothing outside its own body uses."""
    defined: dict[tuple[str, str], str] = {}  # (file, name) -> module:name
    # name -> owners using it: (file, top-level def name), or (file, None)
    # for module-level code and every file outside the package
    users: dict[str, set[tuple[str, str | None]]] = {}
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, ROOT)
        module = rel[:-3].replace(os.sep, ".")
        for stmt in ast.parse(_read(path), filename=path).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)) or _is_all(stmt):
                continue
            owner = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = stmt.name
                if not stmt.decorator_list:
                    defined[(rel, stmt.name)] = f"{module}:{stmt.name}"
            for name in _ast_names(stmt):
                users.setdefault(name, set()).add((rel, owner))
    for entry in USERS:
        for path in _py_files(entry):
            rel = os.path.relpath(path, ROOT)
            code = compile(_read(path), path, "exec", dont_inherit=True)
            for name in _code_names(code, set()):
                users.setdefault(name, set()).add((rel, None))
    return sorted(
        label
        for (rel, name), label in defined.items()
        if not users.get(name, set()) - {(rel, name)}
    )


def test_every_package_definition_has_a_user():
    dead = unreferenced()
    assert not dead, "no user outside its own body:\n" + "\n".join(dead)
