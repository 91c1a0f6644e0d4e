"""No module in the package imports a name it never uses.

No linter is installed, so this is a small AST check: every name bound
by a module-level import must be referenced somewhere in the module (or
listed in ``__all__``). ``from __future__`` imports are exempt, and so is
an import marked ``# noqa`` on its line — the way to keep an import for
its side effects."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "history_collector_spark"


def _unused_imports(path: pathlib.Path) -> list[tuple[int, str]]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    unused = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "# noqa" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            bound = (alias.asname or alias.name).split(".")[0]
            if bound not in used:
                unused.append((node.lineno, bound))
    return unused


def test_no_unused_module_imports():
    unused = [
        f"{p.relative_to(PACKAGE)}:{line} {name}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for line, name in _unused_imports(p)
    ]
    assert not unused, unused


def test_checker_flags_an_unused_import(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "from __future__ import annotations\n"
        "import os\n"
        "import sys  # noqa: F401 (side effect)\n"
        "from json import dumps, loads\n"
        "print(loads)\n"
    )
    assert _unused_imports(mod) == [(2, "os"), (4, "dumps")]
