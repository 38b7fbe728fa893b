"""Every package definition has a user, and every default has a caller.

An undecorated top-level function or class counts as used when code
outside its own body names it — a name, an attribute or an
identifier-shaped string constant (a ``getattr`` target) — anywhere in the
package, the tests, the tools, the benchmark harness, ``bench.py`` or
``__spark_entry__.py``. Inside the package,
import statements and ``__all__`` lists only re-publish a name, so they
are not uses; the other files are read from their compiled code objects
(cheaper than an AST), where any name counts. Decorated definitions
(registered queries, UDFs) are reached through their decorator and are
skipped.

A parameter default, or a dataclass ``init`` field default, counts as set
when some call in those same files passes it by keyword, by position or
through ``functools.partial``. A call to a name the package defines more
than once, a call with a ``*``/``**`` splat, or the name handed to a call
as a callback counts as setting every default of that name. ``now`` clock parameters and the ``DEPLOYMENT``
values (where a deployment keeps its files, how it talks to its
database, what it encrypts with) stay settable without a caller; any
other default no call sets is a constant in disguise.

No Spark and no import of the package.
"""

from __future__ import annotations

import ast
import collections
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


# label -> why it stays settable with no caller
DEPLOYMENT = {
    f"{PACKAGE}.io.jdbc:JdbcFullRefreshSink(batchsize)": "throughput",
    f"{PACKAGE}.io.jdbc:JdbcFullRefreshSink(bracket_quote)": "dialect",
    f"{PACKAGE}.io.warc:stream_warc(archive_dir)": "path",
    f"{PACKAGE}.io.warc:stream_warc(path_glob)": "path",
    f"{PACKAGE}.io.cdx:stream_cdx(path_glob)": "path",
    f"{PACKAGE}.operators.textstats:train_quality_classifier(model_dir)": "path",
    f"{PACKAGE}.operators.pdf:encode_pdf_encrypted(owner_pwd)": "credential",
}


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _field_defaults(cls: ast.ClassDef) -> list[tuple[str, int]]:
    """(name, position) of each ``init`` field of a dataclass with a default."""
    out, pos = [], 0
    for stmt in cls.body:
        if not (isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name)):
            continue
        if "ClassVar" in ast.unparse(stmt.annotation):
            continue
        value = stmt.value
        has_default = value is not None
        if isinstance(value, ast.Call) and _callee(value.func) == "field":
            kw = {k.arg: k.value for k in value.keywords}
            if isinstance(kw.get("init"), ast.Constant) and kw["init"].value is False:
                continue
            has_default = "default" in kw or "default_factory" in kw
        if has_default:
            out.append((stmt.target.id, pos))
        pos += 1
    return out


def _param_defaults(fn: ast.FunctionDef, method: bool) -> list[tuple[str, int | None]]:
    """(name, call position) of each parameter with a default; keyword-only
    parameters have no position."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    out = [(a.arg, i - method) for i, a in enumerate(positional) if i >= first]
    return out + [
        (a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
    ]


def _defaults(tree: ast.Module, module: str, defined: collections.Counter):
    """(label, callee, name, position, is_function) of every default in
    one module (``__init__`` and dataclass fields are the class's, not a
    function's); counts every function and dataclass under the name a call
    uses."""
    out = []

    def visit(node: ast.AST, prefix: str, cls: ast.ClassDef | None) -> None:
        for stmt in ast.iter_child_nodes(node):
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                method = cls is not None and not any(
                    _callee(d) == "staticmethod" for d in stmt.decorator_list
                )
                callee = cls.name if method and stmt.name == "__init__" else stmt.name
                defined[callee] += 1
                for name, pos in _param_defaults(stmt, method):
                    label = f"{module}:{prefix}{stmt.name}({name})"
                    out.append((label, callee, name, pos, callee == stmt.name))
                visit(stmt, f"{prefix}{stmt.name}.", None)
            elif isinstance(stmt, ast.ClassDef):
                if any(
                    _callee(d.func if isinstance(d, ast.Call) else d) == "dataclass"
                    for d in stmt.decorator_list
                ):
                    defined[stmt.name] += 1
                    for name, pos in _field_defaults(stmt):
                        label = f"{module}:{prefix}{stmt.name}({name})"
                        out.append((label, stmt.name, name, pos, False))
                visit(stmt, f"{prefix}{stmt.name}.", stmt)
            else:
                visit(stmt, prefix, cls)

    visit(tree, "", None)
    return out


def _calls(tree: ast.Module):
    """(callee, positional count, keyword names, splat) of every call;
    ``partial(f, ...)`` is a call of ``f``. A name handed to a call as an
    argument (a callback such as ``fuzzy_join(block=last_token_block)``)
    comes out with ``None`` as its positional count: it may be called with
    anything."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func, args = node.func, node.args
        if _callee(func) == "partial" and args:
            func, args = args[0], args[1:]
        callee = _callee(func)
        if callee is None:
            continue
        keywords = {k.arg for k in node.keywords}
        splat = None in keywords or any(isinstance(a, ast.Starred) for a in args)
        yield callee, len(args), keywords, splat
        for arg in (*args, *(k.value for k in node.keywords)):
            if isinstance(arg, (ast.Name, ast.Attribute)):
                yield _callee(arg), None, set(), False


def never_set() -> list[str]:
    """``module:qualname(name)`` of every package default that no call sets."""
    defaults, defined = [], collections.Counter()
    calls: dict[str, list[tuple[int | None, set[str], bool]]] = {}
    for entry in (PACKAGE, *USERS):
        for path in _py_files(entry):
            tree = ast.parse(_read(path), filename=path)
            if entry == PACKAGE:
                module = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
                defaults += _defaults(tree, module, defined)
            for callee, npos, keywords, splat in _calls(tree):
                calls.setdefault(callee, []).append((npos, keywords, splat))

    def is_set(callee: str, name: str, pos: int | None, function: bool) -> bool:
        # a class handed over as a value (isinstance, a tracer patching a
        # method) is not a constructor call; a function handed over is
        return defined[callee] > 1 or any(
            splat
            or name in keywords
            or (npos is None and function)
            or (pos is not None and npos is not None and npos > pos)
            for npos, keywords, splat in calls.get(callee, ())
        )

    return sorted(
        label
        for label, callee, name, pos, function in defaults
        if name != "now"
        and label not in DEPLOYMENT
        and not is_set(callee, name, pos, function)
    )


def test_every_default_has_a_caller():
    unset = never_set()
    assert not unset, "default that no call sets:\n" + "\n".join(unset)
