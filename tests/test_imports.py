"""No unused imports in the package (the F401 check of a linter, kept
as a pure-Python test because no linter ships with the toolchain).

Each import is checked in the scope that binds it: a module-level
import must be used somewhere in the module or listed in ``__all__``,
a function-level one somewhere in that function.  An import statement
whose first line carries ``# noqa`` with ``F401`` (the shared query
module preambles, the package re-exports) is exempt.
"""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "hdfs_stream_processing_spark")
SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)


def _sources() -> list[str]:
    return sorted(
        os.path.join(root, n)
        for root, _, names in os.walk(PKG)
        for n in names
        if n.endswith(".py")
    )


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope`` outside any function nested in it."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _bound_names(stmt: ast.Import | ast.ImportFrom):
    for alias in stmt.names:
        if alias.name == "*":
            continue
        yield alias.asname or alias.name.split(".")[0]


def _exported(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return {e.value for e in node.value.elts}
    return set()


def unused_imports(path: str) -> list[str]:
    """``<file>:<line> <name>`` for every unused, unmarked import."""
    with open(path) as f:
        text = f.read()
    lines = text.splitlines()
    tree = ast.parse(text, path)
    found = []
    for scope in ast.walk(tree):
        if not isinstance(scope, SCOPES):
            continue
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        if isinstance(scope, ast.Module):
            used |= _exported(scope)
        for stmt in _own_nodes(scope):
            if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            first = lines[stmt.lineno - 1]
            if "# noqa" in first and "F401" in first.split("# noqa", 1)[1]:
                continue
            rel = os.path.relpath(path, os.path.dirname(PKG))
            found += [
                f"{rel}:{stmt.lineno} {name}"
                for name in _bound_names(stmt)
                if name not in used
            ]
    return found


def test_no_unused_imports():
    assert [entry for path in _sources() for entry in unused_imports(path)] == []


def test_checker_flags_an_unused_import(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import os\n"
        "from json import dumps, loads  # noqa: E402\n"
        "from re import sub  # noqa: F401\n"
        "def f():\n"
        "    from math import pi, tau\n"
        "    return pi + len(dumps(1))\n"
    )
    got = [entry.split(" ", 1)[1] for entry in unused_imports(str(src))]
    assert sorted(got) == ["loads", "os", "tau"]
